"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship nous-style recall query (neighborhood
expansion over the TPC-H-derived knowledge graph) at sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator
from SURVEY.md §2, checked against DuckDB at sf0.01.

Column-name contract: every computed column is aliased identically in
the Spark code and the oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nous_spark.graph import (
    DERIVED_FROM,
    edge_rows,
    entity_facts,
    entity_neighborhood,
    fact_refcounts,
    find_entity_by_identifier,
    has_fact_edges,
    primary_identifier,
)
from nous_spark.operators.dedup import (
    dedup_corpus,
    embedding_near_dups,
    embedding_near_dups_exact,
    exact_dedup,
    minhash_verified_near_dups,
    ngram_jaccard_pairs,
    simhash_fingerprints_md5,
    simhash_near_dups,
)
from nous_spark.operators.multimodal import image_features, synth_media
from nous_spark.operators.similarity import batch_cosine_topk, cosine_scores, lsh_ann_topk
from nous_spark.operators.text import (
    bpe_ish_token_count_col,
    c4_line_filter_oracle_sql as _c4_line_filter_oracle_sql,
    canonical_url_udf,
    domain_blocklist_oracle_sql as _domain_blocklist_oracle_sql,
    fingerprint_col,
    gopher_rules_oracle_sql as _gopher_rules_oracle_sql,
    html_extract_oracle_sql as _html_extract_oracle_sql,
    html_links_oracle_sql as _html_links_oracle_sql,
    lang_id_col,
    micro_mean_4dp_sql as _micro_mean_4dp_sql,
    quality_columns,
    quality_score_cols,
    token_count_col,
)
from nous_spark.operators.tpch_graph import EDGES_SQL, FACTS_SQL, tpch_edges, tpch_facts
from nous_spark.operators.webgraph import (
    anchor_text_profiles_oracle_sql as _anchor_profiles_oracle_sql,
    domain_edges_oracle_sql as _domain_edges_oracle_sql,
    domain_link_graph_oracle_sql as _domain_link_graph_oracle_sql,
    domain_quality_gate_oracle_sql as _domain_quality_gate_oracle_sql,
    link_quality_signals_oracle_sql as _link_quality_signals_oracle_sql,
    domain_reciprocity_oracle_sql as _domain_reciprocity_oracle_sql,
    latest_snapshot_oracle_sql as _latest_snapshot_oracle_sql,
    robots_meta_oracle_sql as _robots_meta_oracle_sql,
    url_revisit_diff_oracle_sql as _url_revisit_oracle_sql,
)
from nous_spark.semantic import build_embeddings, rag_recall, summarize_entities


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# entry: flagship query at sf0.001
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Memory-recall lookup (SURVEY.md §3.2) over the TPC-H-derived graph:
    identifier -> entity -> all facts, predicate-filterable."""
    sf_dir = "/root/testdata/sf0.001"
    edges = tpch_edges(spark, sf_dir)
    facts = tpch_facts(spark, sf_dir)
    e = find_entity_by_identifier(edges, "username", "Customer#000000001")
    return entity_facts(edges, facts, e)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------
def _q_kg_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = tpch_edges(spark, sf_dir)
    facts = tpch_facts(spark, sf_dir)
    e = find_entity_by_identifier(edges, "username", "Customer#000000001")
    return entity_facts(edges, facts, e).select(
        "entity_id", "pred", "fact_id", "name", "fact_type"
    )


def _q_kg_refcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fact_refcounts(tpch_edges(spark, sf_dir))


def _q_kg_traversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-filtered 2-hop traversal: entities in Segment:BUILDING ->
    their lives_in facts (the north_star's self-join recall shape)."""
    edges = tpch_edges(spark, sf_dir)
    seg = (
        has_fact_edges(edges)
        .filter(F.col("fact_id") == "Segment:BUILDING")
        .select("entity_id")
    )
    lives = has_fact_edges(edges, "lives_in").select("entity_id", "fact_id")
    return seg.join(lives, "entity_id").select("entity_id", "fact_id")


def _q_ranked_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 ranked-preference pick: each customer's most recent order."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("latest_orderkey"),
            F.round("o_totalprice", 2).alias("totalprice"),
        )
    )


def _q_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def _q_top_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


def _q_totals_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    filtered = ev.filter(
        (F.col("ts") >= F.lit("2024-01-02").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-05").cast("timestamp"))
        & (F.col("event_type") == "purchase")
    )
    return filtered.agg(
        F.coalesce(F.round(F.sum("value"), 2), F.lit(0.0)).alias("total_value"),
        F.count("*").alias("n_events"),
    )


def _q_usage_cost_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/G4: write-time DECIMAL(18,8) cost accounting (reference
    pricing.py:16-40). Each event is modeled as one provider call with
    deterministic token counts; cost = prompt_tokens*prompt_rate +
    completion_tokens*completion_rate with Python-Decimal-exact
    per-token rates (pricing.pricing_dim, broadcast) — no float in the
    money path until the final display cast."""
    from nous_spark.pricing import pricing_dim

    ev = _t(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type").isin("purchase", "signup"), F.lit("extract"))
        .when(F.col("event_type") == "view", F.lit("summarize"))
        .otherwise(F.lit("embed"))
    )
    ev = (
        ev.withColumn("operation", op)
        .withColumn("prompt_tokens", F.col("event_id") % 900 + 100)
        .withColumn("completion_tokens", F.col("event_id") % 400 + 50)
    )
    cost = (
        F.col("prompt_tokens").cast("decimal(18,0)") * F.col("prompt_per_token")
        + F.col("completion_tokens").cast("decimal(18,0)") * F.col("completion_per_token")
    )
    return (
        ev.join(F.broadcast(pricing_dim(spark)), "operation")
        .withColumn("cost_usd", cost.cast("decimal(18,8)"))
        .groupBy("operation")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("prompt_tokens") + F.col("completion_tokens")).alias(
                "total_tokens"
            ),
            F.round(F.sum("cost_usd").cast("double"), 6).alias("cost_usd"),
        )
    )


def _q_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.orderBy(F.desc("ts"), F.desc("event_id"))
        .select("event_id", "event_type", F.round("value", 2).alias("value_r"))
        .offset(10)
        .limit(20)
    )


def _q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def _q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shipping priority: top-10 unshipped-revenue orders (top-k after
    a 3-way join + agg; deterministic tiebreak on orderkey)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit("1996-06-01").cast("timestamp")
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, customer.c_custkey == orders.o_custkey)
        .filter(F.col("o_orderdate") < cutoff)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


def _q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 local-supplier volume: 6-way join, broadcast dims, year filter."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .filter(customer.c_nationkey == supplier.s_nationkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
              nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def _q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecast revenue: pure scan-filter-agg (pushdown showcase)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.04, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


def _q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume customers: HAVING via post-agg filter + semi-join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            F.col("o_custkey").alias("custkey"),
            F.round("total_qty", 1).alias("total_qty"),
            F.round("o_totalprice", 2).alias("totalprice"),
        )
    )


def _q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1-style join chain with broadcast dims: revenue by EUROPE nation."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    orders = _t(spark, sf_dir, "orders")
    dims = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
        nation.n_regionkey == region.r_regionkey,
    )
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(dims), customer.c_nationkey == dims.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


def _q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    o95 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    return customer.join(
        o95, customer.c_custkey == o95.o_custkey, "left_semi"
    ).select("c_custkey")


def _q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


def _q_left_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def _q_collect_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 collect(DISTINCT ...) analog, string-serialized for oracle parity."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("c_mktsegment"))).alias(
                "segments"
            ),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


def _q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_t(spark, sf_dir, "documents"))


def _q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    q = quality_columns(F.col("text"))
    return docs.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        q["avg_word_len"].alias("avg_word_len"),
        q["punct_ratio"].alias("punct_ratio"),
        q["stop_the_ratio"].alias("stop_the_ratio"),
    )


def _q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    scored = cosine_scores(emb, [float(x) for x in qvec])
    return scored.select("vec_id", F.round("score", 4).alias("score")).filter(
        F.col("score") >= 0.3
    )


def _q_kg_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full lookup with OPTIONAL-MATCH left joins (C2/C3): facts + provenance
    hop (tpch graph has no DERIVED_FROM, so source_id is NULL — the left
    join shape is the point)."""
    edges = tpch_edges(spark, sf_dir)
    facts = tpch_facts(spark, sf_dir)
    return entity_neighborhood(edges, facts, "username", "Customer#000000002")


def _q_kg_primary_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return primary_identifier(tpch_edges(spark, sf_dir))


def _q_kg_entity_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 template summaries with confidence qualifiers; lives_in edges
    downgraded to 0.8 so the 'likely' branch is exercised."""
    edges = tpch_edges(spark, sf_dir).withColumn(
        "confidence",
        F.when(F.col("pred") == "lives_in", 0.8).otherwise(F.col("confidence")),
    )
    return summarize_entities(edges, tpch_facts(spark, sf_dir))


def _q_kg_summary_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 with the lookup route's ``lang`` parameter
    (routes/lookup.py:147,163-172): Portuguese templates for prefix and
    confidence qualifiers; clause content (verb/type/name) unchanged."""
    edges = tpch_edges(spark, sf_dir).withColumn(
        "confidence",
        F.when(F.col("pred") == "lives_in", 0.8).otherwise(F.col("confidence")),
    )
    return summarize_entities(edges, tpch_facts(spark, sf_dir), lang="pt-br")


def _q_emb_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dups_exact(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def _q_doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pretraining quality filter: score + keep flag per doc."""
    docs = _t(spark, sf_dir, "documents")
    qs = quality_score_cols(F.col("text"))
    return docs.select(
        "doc_id", qs["quality_score"].alias("quality_score"), qs["keep"].alias("keep")
    )


def _q_doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality gate (Rae et al. 2021 App. A1.1):
    per-doc signal columns + ANDed keep flag, paper thresholds except
    min_stop_words=1 (the synthetic vocabulary carries a single stop
    word — 'the' — so the paper's >=2-distinct rule would be all-false
    here; the oracle is generated with the same override)."""
    from nous_spark.operators.text import gopher_rules

    return gopher_rules(_t(spark, sf_dir, "documents"), min_stop_words=1)


def _q_doc_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scores (Xie et al. 2023): every doc scored by
    how much its hashed uni+bigram statistics look like the target
    domain (sources src0-src2, 15% of the corpus) vs the raw corpus —
    exact integer micro-nat log-ratio sums, value-hash-checked."""
    from nous_spark.operators.text import dsir_log_ratio_score

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("source").isin("src0", "src1", "src2"))
    return dsir_log_ratio_score(docs, target)


def _q_doc_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over fixed messy variants. urllib semantics
    aren't recomputable in DuckDB SQL, but the inputs are FIXED and
    deterministic, so the oracle pins the SPEC — the expected canonical
    form per variant (scheme/host lowering, default-port strip, fragment
    drop, query-param sort, empty-path slash) as a VALUES table."""
    variants = spark.createDataFrame(
        [
            (i, u)
            for i, u in enumerate(
                [
                    "HTTP://Example.COM:80/a/b?z=1&a=2#frag",
                    "https://example.com:443/a/b/?a=2&z=1",
                    "https://EXAMPLE.com/a/b?a=2&z=1",
                    "http://example.com",
                    "http://example.com/?",
                ]
            )
        ],
        "row_id long, url string",
    )
    return variants.select(
        "row_id", canonical_url_udf(F.col("url")).alias("canonical")
    )


def _q_kg_expand_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hop neighborhood expansion (the rag_expand_hops semantics the
    reference reserves): entities sharing a fact with Customer#1."""
    from nous_spark.graph import expand_hops

    edges = tpch_edges(spark, sf_dir)
    e0 = find_entity_by_identifier(edges, "username", "Customer#000000001")
    return expand_hops(edges, e0, hops=1)


def _q_kg_entity_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F10: entity metadata as a real map<string,string> with a
    to_json encode AND from_json decode in one plan (the reference's
    Entity.metadata dict round trip, entity_model.py:26-31). The oracle
    string-builds the identical JSON and reads the decoded field from
    the raw column."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    meta = F.create_map(
        F.lit("segment"), F.col("c_mktsegment"), F.lit("nation"), F.col("n_name")
    )
    mj = F.to_json(meta)
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            F.concat(F.lit("cust:"), F.col("c_custkey")).alias("entity_id"),
            mj.alias("metadata_json"),
            F.from_json(mj, "map<string,string>")["nation"].alias("nation_rt"),
        )
    )


def _q_kg_salted_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 collect(DISTINCT ...) via the explicit two-phase SALTED collect
    (skew.py) — hot fact keys ('Segment:BUILDING' fans in from ~1/5 of
    all customers) spread over salt buckets before the final merge. The
    salt never changes results: the oracle is plain DISTINCT list_agg."""
    from nous_spark.skew import salted_collect_set

    hf = has_fact_edges(tpch_edges(spark, sf_dir)).select("fact_id", "pred")
    out = salted_collect_set(hf, ["fact_id"], "pred", n_salts=8, out_col="preds")
    return out.select(
        "fact_id",
        F.concat_ws(",", F.sort_array(F.col("preds"))).alias("preds"),
    )


def _q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH blocking + exact shingle-Jaccard verification: every
    emitted pair is a true near-dup, so the pair set is oracle-checkable
    against DuckDB's all-pairs exact Jaccard (banding recall ~1 on the
    bimodal corpus — true pairs sit at J>=0.87 where the r=4/b=16
    S-curve passes 1-1e-6)."""
    return minhash_verified_near_dups(
        _t(spark, sf_dir, "documents"), threshold=0.5, shingle_k=5
    )


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), k=3, threshold=0.3)


def _q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic language-rebalancing sample: en downweighted, zh
    upweighted, everything else at the default fraction — the training-
    mix curation step, reproducible across engines via the md5 draw."""
    from nous_spark.operators.curation import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, {"en": 0.25, "zh": 1.0}, default_fraction=0.5, seed=42
    )
    return out.select("doc_id", "lang")


def _q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-quantized sequence packing: 2048-token training sequences
    per (language, md5-shard), documents never split. n_shards=8
    exercises the hot-group cap (the 'en' window would otherwise be one
    single-task sort of ~half the corpus at web scale); shard-local ids
    are namespaced local*8+shard so the oracle can replicate them."""
    from nous_spark.operators.curation import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), budget_tokens=2048, n_shards=8
    )


def _q_kg_batch_fact_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch H4 (graph.remove_facts_from_entities) with an observable
    cascade: the tpch graph is extended with one synthetic source per
    fact (DERIVED_FROM fact -> 'wiki:<fact_id>'), then ONE removals
    frame drops (a) every asserter of Nation:GERMANY — orphaning the
    fact, which must cascade its provenance edge and source — and (b)
    Segment:BUILDING for custkeys < 200, which survives via its other
    asserters. Output: every surviving fact with its remaining HAS_FACT
    edge count and source-survival flag. Fully SQL-expressible: the
    oracle replicates the anti-join + orphan-cascade semantics."""
    from nous_spark.graph import remove_facts_from_entities

    edges = tpch_edges(spark, sf_dir)
    facts = tpch_facts(spark, sf_dir)
    derived = edge_rows(facts, DERIVED_FROM, "fact_id", F.concat(F.lit("wiki:"), "fact_id"))
    edges = edges.unionByName(derived)
    sources = facts.select(F.concat(F.lit("wiki:"), "fact_id").alias("source_id"))
    customer = _t(spark, sf_dir, "customer")
    removals = (
        has_fact_edges(edges)
        .filter(F.col("fact_id") == "Nation:GERMANY")
        .select("entity_id", "fact_id")
        .unionByName(
            customer.filter(F.col("c_custkey") < 200).select(
                F.concat(F.lit("cust:"), "c_custkey").alias("entity_id"),
                F.lit("Segment:BUILDING").alias("fact_id"),
            )
        )
    )
    out = remove_facts_from_entities(
        {"edges": edges, "facts": facts, "sources": sources}, removals
    )
    refc = has_fact_edges(out["edges"]).groupBy("fact_id").agg(F.count("*").alias("n_edges"))
    surviving_src = out["sources"].select(
        F.expr("substring(source_id, 6)").alias("fact_id"),
        F.lit(True).alias("has_source"),
    )
    return (
        out["facts"]
        .join(refc, "fact_id", "left")
        .join(surviving_src, "fact_id", "left")
        .select(
            "fact_id",
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.coalesce("has_source", F.lit(False)).alias("has_source"),
        )
    )


def _q_doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (rounded-score sort key shared
    with the oracle so ulp-level ln() differences cannot flip the k
    cutoff)."""
    from nous_spark.operators.text import tfidf_topk_terms

    return tfidf_topk_terms(_t(spark, sf_dir, "documents"), k=5)


def _q_doc_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus dedup: MinHash-LSH blocked + exact-verified
    pairs -> connected components -> canonical (min-id) survivor per
    cluster. The oracle recomputes the same pair set (shared CTE with
    the doc_minhash_near_dups oracle) and resolves clusters with a
    recursive transitive-closure CTE — the one query where DuckDB
    checks our distributed CC implementation end to end."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_verified_near_dups(docs, threshold=0.5, shingle_k=5)
    return dedup_corpus(docs, pairs).select("doc_id")


def _q_simhash_md5_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups with the CROSS-ENGINE md5 32-bit fingerprint
    (dedup.simhash_fingerprints_md5): the whole pipeline — per-word hash,
    bit votes, pigeonhole chunk blocking with the hot-bucket star-chain,
    hamming verify — is replicated verbatim in the generated DuckDB
    oracle, so SimHash semantics get a hash-matched correctness gate
    (the 64-bit xxhash64 variant stays the scale path, rows-only)."""
    docs = _t(spark, sf_dir, "documents")
    fps = simhash_fingerprints_md5(docs, seed=42)
    return simhash_near_dups(
        docs, max_hamming=3, fingerprints=fps, n_bits=32
    )


# ----------------------------- non-SQL-expressible (rows-only check) -------
def _q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_dups(_t(spark, sf_dir, "documents"), max_hamming=8)


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("lang_pred", lang_id_col(F.col("text")))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN with multiprobe (query bucket + 3 lowest-
    margin flip buckets). Fully oracled: the generated SQL replicates
    the seeded planes (literals), the sign-bit bucketing, the margin-
    ranked single/double/triple flip enumeration (same float addition
    order), and the exact cosine top-k — see _build_ann_lsh_sql."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    out = lsh_ann_topk(emb, [float(x) for x in qvec], k=10, n_planes=8, n_probes=4)
    return out.select("vec_id", F.round("score", 4).alias("score"), "rank")


def _q_emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dups via STACKED hyperplane-LSH blocking + exact
    cosine verification. Fully oracle-checked: the DuckDB SQL is
    GENERATED from the same seeded plane source
    (similarity.hyperplane_planes embedded as literals), replicating the
    bucketing, the max_bucket star-chain, and the verify filter — no
    blocking-recall assumption needed (a pair the blocking misses is
    missed identically on both sides)."""
    return embedding_near_dups(_t(spark, sf_dir, "embeddings"), threshold=0.4, n_planes=6)


def _q_kg_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-mirror build (A4): deterministic point ids + feature-hash
    vectors for every HAS_FACT edge of the tpch graph. The emitted
    (entity, fact, verb, dim) row set is oracle-checkable (point_id is
    uuid5 — no SQL analog; its determinism is pytest-gated in
    test_semantic)."""
    edges = tpch_edges(spark, sf_dir)
    facts = tpch_facts(spark, sf_dir)
    emb = build_embeddings(edges, facts, dim=64)
    return emb.select("entity_id", "fact_id", "verb", F.size("vector").alias("dim"))


def _q_kg_rag_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG read path (E1+C6+B8) over the tpch graph."""
    edges = tpch_edges(spark, sf_dir)
    facts = tpch_facts(spark, sf_dir)
    emb = build_embeddings(edges, facts, dim=64)
    out = rag_recall(
        edges, facts, emb, "username", "Customer#000000001",
        "which nation does the customer live in", top_k=5, dim=64,
    )
    return out.select(
        "entity_id", "fact_id", "verb", F.round("score", 4).alias("score"), "rank"
    )


def _q_kg_rag_recall_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG read path (E1+C6+B8) with a STORED query vector — the fully
    SQL-expressible twin of kg_rag_recall (whose only non-SQL piece is
    the Python feature-hash query embedder).

    Point table: every HAS_FACT edge of the tpch graph is assigned a
    stored ``embeddings`` vector deterministically (row_number within
    its entity partition, mod table size — a per-entity window, never a
    global one). A second copy of each point with a '#stale' fact id
    simulates vector-store rows whose graph assertion was deleted: they
    compete for top-k rank slots (reference semantics: vector search
    first, verify after — get_entity_usecase.py:145-160) but the
    verification semi-join must drop them. top_k=3 over 4 candidates
    exercises the k cutoff; ties (stale points share their twin's
    vector, hence its score) break on point_id, mirrored in the oracle.
    """
    from pyspark.sql import Window

    from nous_spark.semantic import rag_recall_stored

    edges = tpch_edges(spark, sf_dir)
    facts = tpch_facts(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    n_vec = emb.count()  # bounded driver scalar: embeddings is a dim table
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]

    hf = has_fact_edges(edges).select("entity_id", "fact_id", F.col("pred").alias("verb"))
    w = Window.partitionBy("entity_id").orderBy("fact_id", "verb")
    assigned = hf.withColumn("vec_id", (F.row_number().over(w) % n_vec).cast("long"))
    stale = assigned.withColumn("fact_id", F.concat(F.col("fact_id"), F.lit("#stale")))
    pts = (
        assigned.unionByName(stale)
        .join(emb.select("vec_id", F.col("embedding").alias("vector")), "vec_id")
        .select(
            F.concat_ws("|", "entity_id", "verb", "fact_id").alias("point_id"),
            F.col("vector").cast("array<double>").alias("vector"),
            "entity_id",
            "fact_id",
            "verb",
        )
    )
    out = rag_recall_stored(
        edges, facts, pts, "username", "Customer#000000001",
        [float(x) for x in qvec], top_k=3, dim=64,
    )
    return out.select(
        "entity_id", "fact_id", "verb", F.round("score", 4).alias("score"), "rank"
    )


def _q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints, md5-based Column form (JVM, codegen) —
    formula shared verbatim with the DuckDB oracle."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_col(F.col("text")).alias("fingerprint"))


def _q_doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", bpe_ish_token_count_col(F.col("text")).alias("n_tokens")
    )


def _q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with ORACLE-REPLICABLE coarse centroids: the 16 corpus
    vectors with the smallest cross-engine md5 draw (ivf_centroids_md5),
    nprobe=4 inverted lists, exact cosine within the probed lists. The
    md5 selection is a pure function of vec_id, so the DuckDB oracle
    computes the identical centroid set, assignment, probe order, and
    top-k (value-hash gate); the Lloyd-trained production path
    (ivf_train_centroids) is exactness-tested in tests/test_ivf.py —
    its float iteration order can't be hash-matched cross-engine."""
    from nous_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_assign,
        ivf_centroids_md5,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    cents = ivf_centroids_md5(emb, n_lists=16, seed=42)
    assign = ivf_assign(emb, cents)
    out = ivf_ann_topk(emb, assign, cents, [float(x) for x in qvec], k=10, nprobe=4)
    return out.select("vec_id", F.round("score", 4).alias("score"), "rank")


def _q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = batch_cosine_topk(emb, queries_df, k=5)
    return out.select("q_id", "vec_id", F.round("score", 4).alias("score"), "rank")


def _q_media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: synthetic binary media (REAL BMP/PPM payloads + the
    fake format) -> Arrow-batched feature extraction with genuine
    pure-numpy decode. Oracle-checked via the doc_canonical_urls
    pattern: inputs are FIXED and deterministic, so the generated
    oracle pins the expected (width, height, mean_r, std_gray) VALUES,
    computed from the SAME synth_media_row + image_feature_stats pure
    functions the Spark operators run (cast to double before round —
    float32 round keeps float32 precision and would diverge)."""
    media = synth_media(spark, 300, seed=42)
    feats = image_features(media, n_hist=8)
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round(F.element_at("features", 1).cast("double"), 4).alias("mean_r"),
        F.round(F.element_at("features", 4).cast("double"), 4).alias("std_gray"),
    )


def _q_doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-doc repetition signals (duplicate-line
    fraction by count and by chars, top word-2-gram char coverage) —
    the template/boilerplate-loop filter of a pretraining pipeline."""
    from nous_spark.operators.text import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


def _q_doc_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document line dedup: lines occurring in >= 2
    distinct docs are removed corpus-wide (first doc keeps its copy);
    the cleaned text is value-hash-checked end to end."""
    from nous_spark.operators.dedup import dedup_lines_corpus

    return dedup_lines_corpus(_t(spark, sf_dir, "documents"), min_df=2)


def _q_doc_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity C4 dedup: the flat documents text is given
    deterministic paragraph structure (every ' merge ' becomes a blank
    line — plain string replace, identical in DuckDB) and every 3rd doc
    gains a shared two-line footer paragraph; blocks occurring in >= 2
    docs are removed corpus-wide (first doc keeps its copy)."""
    from nous_spark.operators.dedup import dedup_lines_corpus

    docs = _t(spark, sf_dir, "documents")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.replace(F.col("text"), F.lit(" merge "), F.lit("\n\n")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\n\nsubscribe to our newsletter\nunsubscribe anytime"),
            ).otherwise(F.lit("")),
        ),
    )
    return dedup_lines_corpus(injected, min_df=2, granularity="paragraph")


def _q_doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-uni+bigram linear quality-model scoring (the CCNet /
    GPT-3-style learned quality filter, fastText hashing trick): score
    = sigmoid(bias + sum of bucket weights). The oracle replays the
    identical featurization from the SAME weight table — generated,
    never hand-written (CLAUDE.md invariant)."""
    from nous_spark.operators.text import quality_classifier_score

    return quality_classifier_score(_t(spark, sf_dir, "documents"))


def _q_doc_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed learned-quality sampling: classifier scores (the
    generated-oracle featurization) feed the deterministic Pareto keep
    rule u > 1 - (2 - score)^(-9) — the GPT-3 corpus-selection recipe,
    end-to-end value-hash-checked."""
    from nous_spark.operators.curation import quality_weighted_sample
    from nous_spark.operators.text import quality_classifier_score

    scored = quality_classifier_score(_t(spark, sf_dir, "documents"))
    return quality_weighted_sample(scored).select("doc_id", "quality_score")


def _q_doc_corpus_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM typicality: corpus-trained char-bigram model with
    add-one smoothing, per-doc NLL as an exact integer micro-nat sum
    (fold-order-independent, so Spark partial aggregation and the
    DuckDB oracle agree bit-for-bit)."""
    from nous_spark.operators.text import corpus_lm_nll

    return corpus_lm_nll(_t(spark, sf_dir, "documents"))


def _q_doc_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail: per-language exact 10%/50% quantile cut
    of the corpus-LM typicality scores (Wenzek et al. 2020 §4.4) —
    corpus_lm_nll composed into quantile_buckets."""
    from nous_spark.operators.curation import quantile_buckets
    from nous_spark.operators.text import corpus_lm_nll

    docs = _t(spark, sf_dir, "documents")
    # checkpointed: quantile_buckets consumes its input twice, and the
    # LM scoring pass must not run twice (multi-consumer lesson)
    scored = (
        docs.select("doc_id", "lang")
        .join(corpus_lm_nll(docs).select("doc_id", "avg_nll"), "doc_id")
        .localCheckpoint(eager=True)
    )
    return quantile_buckets(
        scored, "avg_nll", quantiles=(0.1, 0.5), group_col="lang"
    )


def _q_doc_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental ingest: docs with doc_id % 3 == 0 play
    the previously-accepted corpus (its seen-hash table), the rest are
    the incoming crawl batch — dedup within the batch (min-id per
    md5(text)) then against the seen hashes."""
    from nous_spark.operators.dedup import dedup_incremental, text_hashes

    docs = _t(spark, sf_dir, "documents")
    seen = text_hashes(docs.filter(F.col("doc_id") % 3 == 0))
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    return dedup_incremental(batch, seen).select("doc_id")


def _q_doc_dedup_corpus_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware corpus dedup: same MinHash-verified pair set and
    transitive clusters as doc_dedup_corpus, but each cluster keeps its
    LONGEST member (chars desc, id asc tiebreak) instead of the min-id
    one — the "keep the best copy" curation rule. The per-cluster pick
    is the two-phase sharded argmax (top_k_per_group k=1), so even a
    mega-cluster never becomes one window partition."""
    from nous_spark.operators.dedup import dedup_corpus_best

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_chars", F.length("text")
    )
    pairs = minhash_verified_near_dups(docs, threshold=0.5, shingle_k=5)
    return dedup_corpus_best(docs, pairs, "n_chars").select("doc_id")


# 20-token license paragraph injected into every 7th doc — identically
# here and in the generated DuckDB oracle — so substring dedup always
# has cross-doc >= min_len spans to remove, at every SF.
_LICENSE_SPAN = (
    "LICENSE this work is provided as is without warranty of any kind "
    "express or implied including merchantability fitness and noninfringement"
)


def _q_doc_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplicate-span removal (Lee et al. 2022): a fixed
    20-token license paragraph is appended to doc_id % 7 == 0 docs
    (plus whatever natural near-dup spans the corpus holds); every
    occurrence outside the smallest doc_id is masked. Token counts,
    span counts and the rebuilt text are value-hash-checked."""
    from nous_spark.operators.dedup import substring_dedup

    docs = _t(spark, sf_dir, "documents")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit(" " + _LICENSE_SPAN)
            ).otherwise(F.lit("")),
        ),
    )
    return substring_dedup(injected, min_len=13)


def _q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style benchmark decontamination: docs with doc_id % 10 == 0
    stand in for the eval/benchmark set; every other doc is flagged if
    it shares any word 8-gram with that set (distinct-gram counts are
    value-hash-checked)."""
    from nous_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        n=8,
    )


_DOMAIN_BLOCKLIST = ("src3.com", "src7.co.uk", "src5.org", "src12.com")


def _q_doc_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/Dolma-style URL domain gate: deterministic synthetic
    URLs (subdomain by doc_id%4, TLD by %3 incl. a co.uk ccSLD, port on
    %5==0) so host/registrable-domain extraction and the blocklist flag
    are all exercised; the oracle builds the same URLs in SQL."""
    from nous_spark.operators.text import domain_blocklist_filter

    docs = _t(spark, sf_dir, "documents")
    sub = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("www."))
        .when(F.col("doc_id") % 4 == 1, F.lit("cdn."))
        .when(F.col("doc_id") % 4 == 2, F.lit("ads."))
        .otherwise(F.lit(""))
    )
    tld = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(".com"))
        .when(F.col("doc_id") % 3 == 1, F.lit(".co.uk"))
        .otherwise(F.lit(".org"))
    )
    port = F.when(F.col("doc_id") % 5 == 0, F.lit(":8080")).otherwise(F.lit(""))
    url = F.concat(
        F.lit("https://"), sub, F.col("source"), tld, port,
        F.lit("/page/"), F.col("doc_id").cast("string"),
    )
    return domain_blocklist_filter(
        docs.select("doc_id", url.alias("url")), _DOMAIN_BLOCKLIST
    )


_C4_JS_LINE = "Please enable javascript scripts support to view full content."
_C4_LOREM_LINE = "Full lorem ipsum disclaimer text follows here."


def _q_doc_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2): the flat docs
    text is given deterministic line structure (every ' table ' becomes
    '.\\n' — plain string replace, identical in DuckDB), every 5th doc
    gains a javascript boilerplate line (terminal-punctuated and long
    enough, so ONLY the substring rule drops it) and every 7th doc a
    'lorem ipsum' line that trips the doc-level gate; min_kept_lines=2
    keeps the flag mixed on ~2.7-line docs."""
    from nous_spark.operators.text import c4_line_filter

    docs = _t(spark, sf_dir, "documents")
    t = F.replace(F.col("text"), F.lit(" table "), F.lit(".\n"))
    t = F.when(
        F.col("doc_id") % 5 == 0, F.concat(t, F.lit("\n" + _C4_JS_LINE))
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 7 == 0, F.concat(t, F.lit("\n" + _C4_LOREM_LINE))
    ).otherwise(t)
    return c4_line_filter(docs.select("doc_id", t.alias("text")), min_kept_lines=2)


def _q_doc_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SlimPajama-style soft dedup: each exact-duplicate copy survives
    with probability 1/cluster_size via the deterministic md5 draw —
    duplicate-heavy sources downweighted, uniques always kept."""
    from nous_spark.operators.dedup import soft_dedup

    return soft_dedup(_t(spark, sf_dir, "documents"))


def _q_doc_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + fixed shard layout (the
    reproducible-training-order last mile): every doc gets a (shard,
    pos) from two independent md5 contexts; identical across runs and
    physical partitionings."""
    from nous_spark.operators.curation import shuffle_to_shards

    return shuffle_to_shards(_t(spark, sf_dir, "documents"), n_shards=8)


def _q_kg_entity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the HAS_FACT subgraph (entity ->
    fact importance): 3 power iterations, damping 0.85, dangling mass
    redistributed uniformly; ranks normalized to sum to |V| and rounded
    to 4 (the cross-engine double-math convention). Oracle is the
    generated unrolled-CTE mirror sharing the same constants."""
    from nous_spark.graph import pagerank

    edges = (
        tpch_edges(spark, sf_dir)
        .filter(F.col("edge_type") == "HAS_FACT")
        .select("src", "dst")
    )
    pr = pagerank(edges, iterations=3, damping=0.85)
    return pr.select("node", F.round("rank", 4).alias("rank"))


def _q_doc_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window token chunking (training/RAG example prep): 24-token
    windows at stride 16 (8-token overlap), 0-based chunk ids, short
    final window kept — a stateless zero-exchange posexplode."""
    from nous_spark.operators.curation import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), max_tokens=24, stride=16
    )


_HTML_SCRIPT = (
    '<script type="text/javascript">if (1 < 2 && 2 > 1)'
    ' { var x = "</div>"; }</script>'
)
_HTML_TAIL = (
    '</p><br/><div class="footer">footer&nbsp;&lt;end&gt;</div>'
    "<!-- hidden\ncomment --></body></HTML>"
)


def _q_doc_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML-to-text extraction over deterministically synthesized pages:
    each document is wrapped in a full HTML shell (title/style/script
    head, uppercase close tag, a script whose BODY contains a fake
    </div>, entities incl. the double-encoded &amp;lt;, a multi-line
    comment) and ' table ' occurrences become paragraph breaks — the
    exact same string both engines build, so the oracle checks the
    whole strip-chain, not a trivial input."""
    from nous_spark.operators.text import html_extract

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<!DOCTYPE html><HTML><head><title>"),
        F.col("source"),
        F.lit("</title><style>p { color: red; }</style>"),
        F.lit(_HTML_SCRIPT),
        F.lit("</head><body><h1>Doc &amp; &amp;lt;title&gt;</h1>\n<p>"),
        F.replace(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" table "),
            F.lit("</p>\n<p>"),
        ),
        F.lit(_HTML_TAIL),
    )
    return html_extract(docs.select("doc_id", html.alias("html")))


def _html_extract_source_sql() -> str:
    """The DuckDB twin of _q_doc_html_extract's page synthesis (chr(10)
    for the embedded newlines; the script/tail constants are shared)."""
    script = _HTML_SCRIPT.replace("'", "''")
    tail = _HTML_TAIL.replace("'", "''").replace("\n", "' || chr(10) || '")
    return f"""
        SELECT doc_id,
               '<!DOCTYPE html><HTML><head><title>' || source
               || '</title><style>p {{ color: red; }}</style>'
               || '{script}'
               || '</head><body><h1>Doc &amp; &amp;lt;title&gt;</h1>'
               || chr(10) || '<p>'
               || replace(coalesce(text, ''), ' table ',
                          '</p>' || chr(10) || '<p>')
               || '{tail}' AS html
        FROM documents
    """


_LINKS_TAIL = (
    '</a> rest <A CLASS="f" HREF="HTTPS://HUB.example.com/">hub &amp;\n'
    "<b>spoke</b></A></p></body>"
)


def _q_doc_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperlink extraction over deterministically synthesized pages:
    every document gets a per-doc parameterized link (entity-encoded
    query string) plus an uppercase-tag link whose anchor spans a
    newline and an inner tag — both engines build the identical string,
    so the oracle exercises the full regex + cleanup chain."""
    from nous_spark.operators.text import html_links

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<body><p><a href="https://'),
        F.col("source"),
        F.lit(".example.com/d/"),
        F.col("doc_id").cast("string"),
        F.lit('?a=1&amp;b=2">'),
        F.substring(F.col("text"), 1, 24),
        F.lit(_LINKS_TAIL),
    )
    return html_links(docs.select("doc_id", html.alias("html")))


def _html_links_source_sql() -> str:
    """The DuckDB twin of _q_doc_html_links' page synthesis (chr(10)
    splice for the embedded newline; the tail constant is shared)."""
    tail = _LINKS_TAIL.replace("'", "''").replace("\n", "' || chr(10) || '")
    return f"""
        SELECT doc_id,
               '<body><p><a href="https://' || source || '.example.com/d/'
               || CAST(doc_id AS VARCHAR) || '?a=1&amp;b=2">'
               || substr(text, 1, 24) || '{tail}' AS html
        FROM documents
    """


# --------------------------------------------------------- web-graph layer
# Shared deterministic page synthesis for the webgraph queries: every
# document becomes a page with its own URL (host s{doc_id%20}.co.uk —
# the ccSLD registrable-domain path) and four link shapes: an
# intra-domain self link, a shared cross-domain hub (entity-encoded
# query string; anchor alternates by doc parity so the anchor-count
# tie rule is exercised at corpus scale), a cdn-{0,1,2}.net asset link
# whose anchor is image-only (cleans to '') on every 4th doc, and a
# relative nav link (domain '' bucket) on every 5th doc.


def _web_synth_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sid = (F.col("doc_id") % 20).cast("string")
    url = _web_url_col()
    hub_anchor = (
        F.when(F.col("doc_id") % 2 == 0, F.lit("Example &amp; <b>News</b>"))
        .otherwise(F.lit("news hub"))
    )
    cdn_anchor = (
        F.when(F.col("doc_id") % 4 == 0, F.lit('<img src="x.png"/>'))
        .otherwise(F.lit("cdn asset"))
    )
    rel = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit('<a href="/nav/menu">site nav</a>'),
        )
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit('<p><a href="https://www.s'), sid, F.lit('.co.uk/self">Home</a> '),
        F.lit('<a href="https://news.example.org/top?a=1&amp;ref=2">'),
        hub_anchor, F.lit("</a> "),
        F.lit('<a href="https://cdn-'), (F.col("doc_id") % 3).cast("string"),
        F.lit('.net/a.js">'), cdn_anchor, F.lit("</a>"),
        rel, F.lit("</p>"),
    )
    return docs.select(
        "doc_id", url.alias("url"), html.alias("html"), "text"
    )


def _web_pages_source_sql() -> str:
    """The DuckDB twin of ``_web_synth_pages`` (same concat, CASE for
    the per-parity/multiple-of links)."""
    return """
        SELECT doc_id,
               'https://www.s' || CAST(doc_id % 20 AS VARCHAR)
                 || '.co.uk/p/' || CAST(doc_id AS VARCHAR) AS url,
               '<p><a href="https://www.s' || CAST(doc_id % 20 AS VARCHAR)
                 || '.co.uk/self">Home</a> '
                 || '<a href="https://news.example.org/top?a=1&amp;ref=2">'
                 || CASE WHEN doc_id % 2 = 0
                         THEN 'Example &amp; <b>News</b>'
                         ELSE 'news hub' END
                 || '</a> '
                 || '<a href="https://cdn-' || CAST(doc_id % 3 AS VARCHAR)
                 || '.net/a.js">'
                 || CASE WHEN doc_id % 4 = 0
                         THEN '<img src="x.png"/>'
                         ELSE 'cdn asset' END
                 || '</a>'
                 || CASE WHEN doc_id % 5 = 0
                         THEN '<a href="/nav/menu">site nav</a>'
                         ELSE '' END
                 || '</p>' AS html,
               text
        FROM documents
    """


_WEB_SRC_URL_SQL = (
    "'https://www.s' || CAST(doc_id % 20 AS VARCHAR) || '.co.uk/p/' "
    "|| CAST(doc_id AS VARCHAR)"
)


def _web_url_col():
    """Spark twin of ``_WEB_SRC_URL_SQL`` — the ONE synthesized
    page-URL shape every web_* query shares (edit both together)."""
    return F.concat(
        F.lit("https://www.s"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".co.uk/p/"),
        F.col("doc_id").cast("string"),
    )


def _web_links_with_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, link_no, href, anchor, src_url) — html_links over the
    synthesized pages; src_url is re-derived from doc_id (pure
    function, no join back to the pages frame)."""
    from nous_spark.operators.text import html_links

    pages = _web_synth_pages(spark, sf_dir)
    links = html_links(pages.select("doc_id", "html"))
    return links.withColumn("src_url", _web_url_col())


def _web_links_with_src_sql() -> str:
    return (
        f"SELECT doc_id, href, anchor, {_WEB_SRC_URL_SQL} AS src_url "
        f"FROM ({_html_links_oracle_sql(source=_web_pages_source_sql())})"
    )


def _q_web_link_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page outlink-quality (spam) signals over the synthesized
    pages: link counts, distinct target domains, intra-domain fraction
    against the page's own registrable domain, and the cleaned
    anchor-chars-to-text ratio — a zero-exchange codegen map."""
    from nous_spark.operators.webgraph import link_quality_signals

    return link_quality_signals(_web_synth_pages(spark, sf_dir))


def _q_web_anchor_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text profiles (the entity-alias mining step):
    inlink counts, distinct non-empty anchors, and the dominant anchor
    with the deterministic count-desc/text-asc tie rule — the hub href
    lands an exact 50/50 anchor tie at even corpus sizes."""
    from nous_spark.operators.webgraph import anchor_text_profiles

    return anchor_text_profiles(_web_links_with_src(spark, sf_dir))


def _q_web_domain_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level link-graph rollup: page links collapse onto
    registrable-domain pairs (ccSLD sources, a shared .org hub,
    cdn .net assets, and the '' relative bucket) with link/page
    weights and the intra-domain flag."""
    from nous_spark.operators.webgraph import domain_link_graph

    return domain_link_graph(_web_links_with_src(spark, sf_dir))


def _q_web_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the domain graph — the full crawl-analytics chain
    (regex link extraction -> registrable-domain projection -> 3 power
    iterations with dangling redistribution) in one query; the oracle
    unrolls the identical chain as generated SQL."""
    from nous_spark.graph import pagerank
    from nous_spark.operators.webgraph import domain_edges

    pr = pagerank(
        domain_edges(_web_links_with_src(spark, sf_dir)),
        iterations=3,
        damping=0.85,
    )
    return pr.select("node", F.round("rank", 4).alias("rank"))


def _q_web_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-meta compliance gate over synthesized heads: every 3rd doc
    a lowercase noindex meta, every 7th an UPPERCASE content="NONE"
    (implies both), every 5th a content-before-name nofollow meta, and
    EVERY doc a name="description" decoy whose content mentions noindex
    (must not trip the gate — only name="robots" tags are read)."""
    from nous_spark.operators.webgraph import robots_meta

    docs = _t(spark, sf_dir, "documents")
    m3 = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit('<meta name="robots" content="noindex, follow">'),
        ).otherwise(F.lit(""))
    )
    m7 = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit('<META NAME="ROBOTS" CONTENT="NONE">'),
        ).otherwise(F.lit(""))
    )
    m5 = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit('<meta content="nofollow" name="robots">'),
        ).otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit(
            '<html><head><meta name="description" '
            'content="noindex is discussed here">'
        ),
        m3, m7, m5,
        F.lit("</head><body>"),
        F.substring(F.col("text"), 1, 40),
        F.lit("</body></html>"),
    )
    return robots_meta(docs.select("doc_id", html.alias("html")))


def _web_robots_pages_sql() -> str:
    """DuckDB twin of _q_web_robots_gate's head synthesis."""
    return """
        SELECT doc_id,
               '<html><head><meta name="description" '
                 || 'content="noindex is discussed here">'
                 || CASE WHEN doc_id % 3 = 0
                         THEN '<meta name="robots" content="noindex, follow">'
                         ELSE '' END
                 || CASE WHEN doc_id % 7 = 0
                         THEN '<META NAME="ROBOTS" CONTENT="NONE">'
                         ELSE '' END
                 || CASE WHEN doc_id % 5 = 0
                         THEN '<meta content="nofollow" name="robots">'
                         ELSE '' END
                 || '</head><body>' || substr(text, 1, 40)
                 || '</body></html>' AS html
        FROM documents
    """


def _q_web_domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality gate: the oracled heuristic quality score
    aggregated onto the synthesized s{doc_id%20}.co.uk domains (ccSLD
    path), mean rounded to 4, whole-domain keep flag with the
    min_docs=3 insufficient-evidence guard."""
    from nous_spark.operators.webgraph import domain_quality_gate

    docs = _t(spark, sf_dir, "documents")
    qs = quality_score_cols(F.col("text"))
    url = _web_url_col()
    scored = docs.select(
        "doc_id",
        url.alias("url"),
        qs["quality_score"].alias("quality_score"),
    )
    return domain_quality_gate(
        scored, min_mean_score=0.5, min_docs=3
    )


def _quality_score_sql_parts() -> tuple[str, str]:
    """(feature_cols, score_expr): the ONE DuckDB rendering of
    text.quality_score_cols — the words/awl/punct feature columns and
    the banded score sum. Folded into BOTH the doc_quality_filter and
    web_domain_quality oracles so the formula can never drift between
    them (edit quality_score_cols, then this, never the callers)."""
    feature_cols = r"""length(regexp_split_to_array(trim(text), '\s+')) AS words,
                 round(length(regexp_replace(text, '\s', '', 'g'))
                       / length(regexp_split_to_array(trim(text), '\s+')), 4) AS awl,
                 round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                       / length(text), 4) AS punct"""
    score_expr = (
        "(CASE WHEN words BETWEEN 10 AND 100000 THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END"
        "\n                      + CASE WHEN awl >= 3.0 AND awl <= 12.0 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END"
        "\n                      + CASE WHEN punct > 0.0 THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END"
        "\n                      + CASE WHEN punct <= 0.1 THEN 0.1::DOUBLE ELSE 0.0::DOUBLE END)"
    )
    return feature_cols, score_expr


def _web_scored_pages_sql() -> str:
    """DuckDB twin of _q_web_domain_quality's (doc_id, url, score)
    synthesis — the score SQL comes from the shared
    ``_quality_score_sql_parts`` generator."""
    feature_cols, score_expr = _quality_score_sql_parts()
    return f"""
        WITH q AS (
          SELECT doc_id,
                 {_WEB_SRC_URL_SQL} AS url,
                 {feature_cols}
          FROM documents
        )
        SELECT doc_id, url,
               round({score_expr}, 2) AS quality_score
        FROM q
    """


def _q_web_url_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot crawl diff over two synthesized snapshots: prev =
    every doc's (url, md5(text)); curr drops every 11th URL ('gone'),
    rewrites every 7th surviving text ('changed'), and adds a /extra
    page for every 13th doc ('new') — the rest are 'unchanged'."""
    from nous_spark.operators.webgraph import url_revisit_diff

    docs = _t(spark, sf_dir, "documents")
    url = _web_url_col()
    prev = docs.select(
        url.alias("url"), F.md5(F.col("text")).alias("content_md5")
    )
    survivors = docs.filter(F.col("doc_id") % 11 != 0)
    curr_text = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" updated"))
    ).otherwise(F.col("text"))
    curr_base = survivors.select(
        url.alias("url"), F.md5(curr_text).alias("content_md5")
    )
    fresh = docs.filter(F.col("doc_id") % 13 == 0).select(
        F.concat(url, F.lit("/extra")).alias("url"),
        F.md5(F.concat(F.col("text"), F.lit(" fresh"))).alias("content_md5"),
    )
    return url_revisit_diff(prev, curr_base.unionByName(fresh))


def _web_revisit_sqls() -> tuple[str, str]:
    """DuckDB twins of _q_web_url_revisit's two snapshot syntheses."""
    prev = (
        f"SELECT {_WEB_SRC_URL_SQL} AS url, md5(text) AS content_md5 "
        "FROM documents"
    )
    curr = f"""
        SELECT {_WEB_SRC_URL_SQL} AS url,
               md5(CASE WHEN doc_id % 7 = 0 THEN text || ' updated'
                        ELSE text END) AS content_md5
        FROM documents WHERE doc_id % 11 <> 0
        UNION ALL
        SELECT {_WEB_SRC_URL_SQL} || '/extra' AS url,
               md5(text || ' fresh') AS content_md5
        FROM documents WHERE doc_id % 13 = 0
    """
    return prev, curr


def _q_web_domain_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-link (link-farm) signals over the synthesized domain
    graph: self links drop as intra-domain, the hub/cdn edges are
    one-way, and a synthetic link-ring (every s{k}.co.uk linking its
    (k+1)%20 neighbour both ways via the back-link below) exercises
    the reciprocity path."""
    from nous_spark.operators.webgraph import (
        domain_edges,
        domain_reciprocity,
    )

    e = domain_edges(_web_links_with_src(spark, sf_dir))
    # synthetic ring back-links: sK.co.uk -> s((K+1)%20).co.uk for all K
    # (derived from the same documents table so all SFs carry it) —
    # together with the forward direction from (K+1)'s own row the ring
    # is fully reciprocal.
    docs = _t(spark, sf_dir, "documents")
    ring = docs.select(
        F.concat(
            F.lit("s"), (F.col("doc_id") % 20).cast("string"), F.lit(".co.uk")
        ).alias("src"),
        F.concat(
            F.lit("s"),
            ((F.col("doc_id") + 1) % 20).cast("string"),
            F.lit(".co.uk"),
        ).alias("dst"),
    )
    ring_back = ring.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return domain_reciprocity(
        e.unionByName(ring).unionByName(ring_back),
        src_col="src",
        dst_col="dst",
    )


def _web_reciprocity_edges_sql() -> str:
    """DuckDB twin of _q_web_domain_reciprocity's edge synthesis."""
    ring = (
        "SELECT 's' || CAST(doc_id % 20 AS VARCHAR) || '.co.uk' AS src, "
        "'s' || CAST((doc_id + 1) % 20 AS VARCHAR) || '.co.uk' AS dst "
        "FROM documents"
    )
    ring_back = (
        "SELECT 's' || CAST((doc_id + 1) % 20 AS VARCHAR) || '.co.uk' AS src, "
        "'s' || CAST(doc_id % 20 AS VARCHAR) || '.co.uk' AS dst "
        "FROM documents"
    )
    return (
        _domain_edges_oracle_sql(source=_web_links_with_src_sql())
        + f" UNION ALL {ring} UNION ALL {ring_back}"
    )


def _q_web_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-snapshot collapse over synthesized captures: every URL is
    fetched 1 + doc_id%3 times (warc_ts = a doc-derived base instant
    plus k hours, text suffixed ' v{k}'), plus an exact-timestamp tie
    pair on every 10th doc (same ts, ' tieA'/' tieB' texts) resolved by
    the md5 rule — only the newest capture survives per URL."""
    from nous_spark.operators.webgraph import latest_snapshot

    docs = _t(spark, sf_dir, "documents")
    url = _web_url_col()
    base_ts = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        days=(F.col("doc_id") % 97).cast("int")
    )
    snaps = None
    for k in range(3):
        s = docs.filter(F.col("doc_id") % 3 >= k).select(
            url.alias("url"),
            (base_ts + F.make_interval(hours=F.lit(k))).alias("warc_ts"),
            F.concat(F.col("text"), F.lit(f" v{k}")).alias("text"),
        )
        snaps = s if snaps is None else snaps.unionByName(s)
    ties = docs.filter(F.col("doc_id") % 10 == 0)
    for suffix in (" tieA", " tieB"):
        snaps = snaps.unionByName(
            ties.select(
                url.alias("url"),
                (base_ts + F.make_interval(hours=F.lit(9))).alias("warc_ts"),
                F.concat(F.col("text"), F.lit(suffix)).alias("text"),
            )
        )
    return latest_snapshot(snaps)


def _web_snapshots_source_sql() -> str:
    """DuckDB twin of _q_web_latest_snapshot's capture synthesis."""
    url = _WEB_SRC_URL_SQL
    base = (
        "TIMESTAMP '2024-01-01 00:00:00' "
        "+ to_days(CAST(doc_id % 97 AS INTEGER))"
    )
    parts = [
        f"SELECT {url} AS url, {base} + to_hours({k}) AS warc_ts, "
        f"text || ' v{k}' AS text FROM documents WHERE doc_id % 3 >= {k}"
        for k in range(3)
    ]
    parts += [
        f"SELECT {url} AS url, {base} + to_hours(9) AS warc_ts, "
        f"text || ' {t}' AS text FROM documents WHERE doc_id % 10 = 0"
        for t in ("tieA", "tieB")
    ]
    return " UNION ALL ".join(parts)


def _q_doc_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus composition report (doc/token volumes, exact-dup
    mass, dominant language + share) — the data-card rollup a mixture
    run publishes per domain."""
    from nous_spark.operators.curation import corpus_datacard

    return corpus_datacard(_t(spark, sf_dir, "documents"))


def _q_emb_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: vectors with vec_id % 17 == 0
    stand in for the eval benchmark; every training vector reports its
    max cosine vs that set, the nearest eval id (rounded-score ties ->
    smallest id), and a contaminated flag at 0.35 — the semantic
    complement of the 13-gram doc_decontaminate row."""
    from nous_spark.operators.dedup import decontaminate_semantic

    emb = _t(spark, sf_dir, "embeddings")
    return decontaminate_semantic(
        emb, emb.filter(F.col("vec_id") % 17 == 0), threshold=0.35
    )


def _q_doc_top_k_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping (the 'at most k pages per domain' crawl
    rule): two-phase sharded top-5 by (n_chars desc, doc_id) — exactly
    equals the single-window row_number() <= 5."""
    from nous_spark.operators.curation import top_k_per_group

    return top_k_per_group(
        _t(spark, sf_dir, "documents"), k=5, n_shards=8
    ).withColumn("rank", F.col("rank").cast("long"))


def _q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (C4/FineWeb pre-release scrub): deterministic
    synthetic email/phone/IPv4 strings are injected per doc_id —
    identically in this wrapper and the DuckDB oracle — then scrubbed;
    counts and the fully redacted text are value-hash-checked."""
    from nous_spark.operators.text import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
            F.when(
                did % 2 == 0,
                F.concat(
                    F.lit(" or +1 555-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.lit(" at 10.0."), (did % 256).cast("string"), F.lit(".7"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" call (555) 867-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" fax 555-123-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return pii_scrub(injected)


_MIX_WEIGHTS = {"en": 0.4, "zh": 0.25, "de": 0.2, "es": 0.15}  # fr: dropped
_MIX_BUDGET = 12_000


def _q_doc_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing (Pile/Gopher/LLaMA recipe): sample
    each language to min(1, budget*w/tokens) by the deterministic md5
    draw; the oracle recomputes fractions AND the draw in SQL."""
    from nous_spark.operators.curation import token_budget_mix

    return token_budget_mix(
        _t(spark, sf_dir, "documents"), _MIX_WEIGHTS, _MIX_BUDGET
    )


def _build_token_budget_mix_sql() -> str:
    """GENERATED from _MIX_WEIGHTS/_MIX_BUDGET: the budget*weight
    products are baked as the SAME Python-float literals the Spark plan
    uses, so the one runtime double division is bit-identical."""
    case = " ".join(
        f"WHEN '{k}' THEN {float(_MIX_BUDGET * _MIX_WEIGHTS[k])!r}"
        for k in sorted(_MIX_WEIGHTS)
    )
    langs = ", ".join(f"'{k}'" for k in sorted(_MIX_WEIGHTS))
    return f"""
        WITH d AS (
          SELECT doc_id, lang,
                 CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens
          FROM documents
          WHERE lang IN ({langs})
        ),
        tot AS (SELECT lang, sum(n_tokens) AS tot FROM d GROUP BY 1),
        f AS (
          SELECT lang,
                 least(1.0, (CASE lang {case} END) / tot) AS frac
          FROM tot
        )
        SELECT doc_id, lang, n_tokens
        FROM d JOIN f USING (lang)
        WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
              / 4294967296.0 < frac
    """


def _q_emb_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced coreset sampling (SemDeDup flavor): md5-picked
    coarse centroids -> nearest-centroid assignment -> the 8 most
    central vectors per cluster, two-phase sharded top-k. Fully
    value-hash oracled (centroids, assignment, rounded-score ranking
    all replicated in SQL)."""
    from nous_spark.operators.similarity import (
        cluster_balanced_sample,
        ivf_centroids_md5,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = ivf_centroids_md5(emb, n_lists=16, seed=42)
    return cluster_balanced_sample(emb, cents, k=8).withColumn(
        "rank", F.col("rank").cast("long")
    )


_EMB_CLUSTER_SAMPLE_SQL = """
    WITH draw AS (
      SELECT vec_id, embedding,
             ('0x' || substr(md5(vec_id::VARCHAR || ':42'), 1, 8))::BIGINT AS h
      FROM embeddings
    ),
    cents AS (
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS list_id,
             embedding::DOUBLE[] AS c
      FROM draw ORDER BY h, vec_id LIMIT 16
    ),
    assign AS (
      SELECT v.vec_id, c.list_id,
             list_cosine_similarity(v.embedding::DOUBLE[], c.c) AS s,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY list_cosine_similarity(v.embedding::DOUBLE[], c.c) DESC,
                        c.list_id
             ) AS rn
      FROM embeddings v CROSS JOIN cents c
    )
    SELECT list_id, vec_id, score, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT list_id, vec_id, round(s, 4) AS score,
             row_number() OVER (
               PARTITION BY list_id ORDER BY round(s, 4) DESC, vec_id
             ) AS rank
      FROM assign WHERE rn = 1
    )
    WHERE rank <= 8
"""


_CURATION_MIX_BUDGET = 6_000
_CURATION_SEQ_BUDGET = 1_024
_CURATION_SHARDS = 4


def _q_doc_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation chain (quality filter -> exact dedup ->
    mixture rebalancing -> sharded sequence packing), composed from the
    library operators; the oracle replicates all four stages as one
    CTE stack, so stage INTERACTIONS are value-hash-checked too."""
    from nous_spark.operators.curation import curation_pipeline

    return curation_pipeline(
        _t(spark, sf_dir, "documents"),
        _MIX_WEIGHTS,
        _CURATION_MIX_BUDGET,
        seq_budget_tokens=_CURATION_SEQ_BUDGET,
        n_shards=_CURATION_SHARDS,
    )


def _build_curation_pipeline_sql() -> str:
    """GENERATED from _MIX_WEIGHTS/_CURATION_*: the quality CTE is the
    proven doc_quality_filter formula, dedup the doc_exact_dedup min-id
    rule, sampling the token_budget_mix draw, packing the
    doc_pack_sequences window — chained."""
    case = " ".join(
        f"WHEN '{k}' THEN {float(_CURATION_MIX_BUDGET * _MIX_WEIGHTS[k])!r}"
        for k in sorted(_MIX_WEIGHTS)
    )
    langs = ", ".join(f"'{k}'" for k in sorted(_MIX_WEIGHTS))
    draw = "('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT"
    feature_cols, score_expr = _quality_score_sql_parts()
    return rf"""
        WITH q AS (
          SELECT doc_id,
                 {feature_cols}
          FROM documents
        ), s AS (
          SELECT doc_id,
                 {score_expr} AS score
          FROM q
        ), base AS (
          SELECT d.doc_id, d.lang, d.text
          FROM documents d JOIN s USING (doc_id) WHERE s.score >= 0.7
        ), canon AS (
          SELECT min(doc_id) AS doc_id FROM base GROUP BY md5(text)
        ), dd AS (
          SELECT b.* FROM base b JOIN canon USING (doc_id)
        ), tok AS (
          SELECT doc_id, lang,
                 CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
          FROM dd WHERE lang IN ({langs})
        ), tot AS (SELECT lang, sum(n_tokens) AS tot FROM tok GROUP BY 1),
        f AS (
          SELECT lang, least(1.0, (CASE lang {case} END) / tot) AS frac
          FROM tot
        ), samp AS (
          SELECT tok.doc_id, tok.lang, tok.n_tokens,
                 {draw} % {_CURATION_SHARDS} AS shard
          FROM tok JOIN f USING (lang)
          WHERE {draw} / 4294967296.0 < frac
        )
        SELECT doc_id, lang, n_tokens,
               CAST(floor(coalesce(sum(n_tokens) OVER (
                 PARTITION BY lang, shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / {_CURATION_SEQ_BUDGET}) * {_CURATION_SHARDS} + shard
                 AS BIGINT) AS seq_id
        FROM samp
    """


def _q_media_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video: synthetic binaries (REAL Y4M payloads with
    C444/C420jpeg plane layouts + the fake FVID format) -> frame
    sampling (Y4M frames genuinely decoded and re-encoded as BMP) ->
    per-frame feature extraction. Oracle-checked like
    media_image_features: the generated oracle pins the expected
    (frame_idx, width, height, mean_r, std_gray) VALUES computed from
    the SAME synth_media_row -> sampled_frame_bytes ->
    image_feature_stats pure functions the Spark operators run."""
    from nous_spark.operators.multimodal import frame_features, sample_frames

    media = synth_media(spark, 300, seed=42)
    feats = frame_features(sample_frames(media, every_n=2), n_hist=8)
    return feats.select(
        "media_id",
        "frame_idx",
        "width",
        "height",
        F.round(F.element_at("features", 1).cast("double"), 4).alias("mean_r"),
        F.round(F.element_at("features", 4).cast("double"), 4).alias("std_gray"),
    )


def _q_kg_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real extraction pipeline on deterministic synthetic pages:
    pages -> text -> mentions/triples -> linked (subj, pred, obj)."""
    from nous_spark.datagen import generate_pages
    from nous_spark.pipeline import stage_extract, stage_link, stage_mentions

    pages = generate_pages(spark, 1000, seed=42)
    docs = stage_extract(pages)
    mentions = stage_mentions(docs)
    mapping = mentions.select(
        "anchor_id", "entity_key", F.col("anchor_id").alias("entity_id")
    ).dropDuplicates(["anchor_id"])
    linked = stage_link(docs, mapping)
    return linked.select("entity_id", "pred", "fact_id", "confidence", "source_url")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER CONTRACT: the driver's CORRECTNESS artifact evaluates the
    # FIRST 50 entries only. All 80 oracled entries precede the 2
    # rows-only ones; overflow slots 51-80 hold oracled queries with no
    # unique SURVEY §2 responsibility (ann_cosine_scores — E1 triple-
    # covered in-window — plus the generic TPC-H/left-join set, green in
    # the r1-r3 driver artifacts, plus doc_curation_pipeline and
    # emb_cluster_sample, whose constituent stages all have their own
    # in-window rows, plus the round-5 depth set: doc_dedup_paragraphs,
    # doc_quality_classifier, doc_quality_weighted_sample,
    # doc_corpus_lm_nll, doc_dedup_corpus_best, doc_dedup_incremental,
    # doc_gopher_rules — a rule-composite over signals whose in-window
    # duties doc_quality_filter/doc_repetition_signals already carry,
    # doc_dsir_scores — a corpus-trained scorer like in-window-adjacent
    # doc_corpus_lm_nll/doc_quality_classifier, doc_ccnet_buckets — the
    # lm_nll -> quantile split composition, emb_decontaminate_semantic —
    # the semantic twin of in-window doc_decontaminate over the same
    # broadcast-eval shape, doc_shuffle_shards — the deterministic-layout
    # twin of in-window doc_pack_sequences/doc_stratified_sample,
    # doc_soft_dedup — the downweighting twin of in-window
    # doc_exact_dedup/doc_quality_weighted_sample, doc_c4_line_filter —
    # the rule-composite cousin of in-window doc_quality_filter/
    # doc_dedup_lines over the same line identity, doc_domain_filter —
    # the URL-gate cousin of in-window doc_canonical_urls),
    # still pytest-gated
    # via test_oracle_parity, which runs ALL entries.
    return {
        "kg_recall_lookup": _q_kg_recall,
        "kg_pipeline_triples": _q_kg_pipeline,
        "kg_fact_refcount": _q_kg_refcount,
        "kg_predicate_traversal": _q_kg_traversal,
        "ranked_pick_latest_order": _q_ranked_pick,
        "usage_daily_rollup": _q_daily_rollup,
        "usage_top_event_types": _q_top_event_types,
        "usage_totals_coalesce": _q_totals_coalesce,
        "usage_cost_rollup": _q_usage_cost_rollup,
        "usage_pagination": _q_pagination,
        "customers_without_orders": _q_anti_join,
        "nation_segment_collect": _q_collect_distinct,
        "doc_repetition_signals": _q_doc_repetition_signals,
        "doc_dedup_lines": _q_doc_dedup_lines,
        "doc_substring_dedup": _q_doc_substring_dedup,
        "doc_decontaminate": _q_doc_decontaminate,
        "doc_top_k_per_source": _q_doc_top_k_per_source,
        "doc_pii_scrub": _q_doc_pii_scrub,
        "doc_token_budget_mix": _q_doc_token_budget_mix,
        "doc_exact_dedup": _q_doc_exact_dedup,
        "doc_token_stats": _q_doc_token_stats,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "kg_neighborhood_lookup": _q_kg_neighborhood,
        "kg_primary_identifier": _q_kg_primary_identifier,
        "kg_entity_summary": _q_kg_entity_summary,
        "kg_summary_lang": _q_kg_summary_lang,
        "emb_near_dup_exact": _q_emb_near_dup_exact,
        "kg_salted_collect": _q_kg_salted_collect,
        "kg_expand_hops": _q_kg_expand_hops,
        "kg_entity_metadata": _q_kg_entity_metadata,
        "doc_quality_filter": _q_doc_quality_filter,
        "doc_minhash_near_dups": _q_minhash_near_dups,
        "doc_dedup_corpus": _q_doc_dedup_corpus,
        "doc_stratified_sample": _q_doc_stratified_sample,
        "doc_pack_sequences": _q_doc_pack_sequences,
        "doc_tfidf_topk": _q_doc_tfidf_topk,
        "kg_batch_fact_removal": _q_kg_batch_fact_removal,
        "doc_ngram_jaccard": _q_ngram_jaccard,
        "doc_lang_id_confusion": _q_lang_id,
        "doc_bpe_tokens": _q_doc_bpe_tokens,
        "doc_fingerprints": _q_doc_fingerprints,
        "doc_quality_classifier": _q_doc_quality_classifier,
        "kg_embeddings_build": _q_kg_embeddings,
        "doc_canonical_urls": _q_doc_canonical_urls,
        "kg_rag_recall_stored": _q_kg_rag_recall_stored,
        "emb_near_dup_lsh": _q_emb_near_dup_lsh,
        "doc_simhash_md5_near_dups": _q_simhash_md5_near_dups,
        "media_image_features": _q_media_image_features,
        "media_video_features": _q_media_video_features,
        # oracled overflow (positions 51+, outside the driver's 50-row
        # window; fully parity-gated in tests/test_oracle_parity.py).
        # Round-4 rebalance: the generic TPC-H/left-join queries moved
        # here — none carries a unique SURVEY §2 responsibility (C5 is
        # customers_without_orders, D1/D7 nation_segment_collect, D4-D6/
        # B7/E2/F7 the usage_* set) — to give the six first-class
        # pretraining-curation ops driver correctness rows instead.
        # Round-5: ann_cosine_scores displaced by doc_substring_dedup —
        # its E1 duty (vector top-k + threshold) stays triple-covered
        # in-window by ann_batch_topk, ann_lsh_topk/ann_ivf_topk and
        # kg_rag_recall_stored.
        "ann_cosine_scores": _q_ann_cosine,
        "tpch_q1_pricing_summary": _q_tpch_q1,
        "tpch_q3_shipping_priority": _q_tpch_q3,
        "tpch_q5_local_supplier": _q_tpch_q5,
        "tpch_q6_forecast_revenue": _q_tpch_q6,
        "region_revenue": _q_region_revenue,
        "customer_order_counts": _q_left_outer_counts,
        "tpch_q18_large_volume": _q_tpch_q18,
        "customers_with_1995_orders": _q_semi_join,
        "doc_curation_pipeline": _q_doc_curation_pipeline,
        "emb_cluster_sample": _q_emb_cluster_sample,
        # paragraph-granularity variant of the in-window doc_dedup_lines
        # (same md5-keyed aggregation, different unit column) — its C4
        # span-dedup duty is in-window via doc_dedup_lines AND
        # doc_substring_dedup
        "doc_dedup_paragraphs": _q_doc_dedup_paragraphs,
        # round-5 depth additions, oracled overflow (the learned quality
        # CLASSIFIER took ann_batch_topk's window slot — E1/E4 stay
        # covered in-window by ann_lsh_topk/ann_ivf_topk/
        # kg_rag_recall_stored; batch top-k remains bench-timed and
        # parity-gated here): the Pareto sampler and LM composing the
        # classifier, and the quality-aware cluster-survivor variant of
        # in-window doc_dedup_corpus
        "ann_batch_topk": _q_ann_batch_topk,
        "doc_quality_weighted_sample": _q_doc_quality_weighted_sample,
        "doc_corpus_lm_nll": _q_doc_corpus_lm_nll,
        "doc_dedup_corpus_best": _q_doc_dedup_corpus_best,
        "doc_dedup_incremental": _q_doc_dedup_incremental,
        "doc_gopher_rules": _q_doc_gopher_rules,
        "doc_dsir_scores": _q_doc_dsir_scores,
        "doc_ccnet_buckets": _q_doc_ccnet_buckets,
        "emb_decontaminate_semantic": _q_emb_decontaminate_semantic,
        "doc_shuffle_shards": _q_doc_shuffle_shards,
        "doc_soft_dedup": _q_doc_soft_dedup,
        "doc_c4_line_filter": _q_doc_c4_line_filter,
        "doc_domain_filter": _q_doc_domain_filter,
        # session-5 depth additions: kg_entity_pagerank — graph-
        # analytics extension whose join/agg shapes (C4 fan-in, D2
        # refcount) are in-window via kg_fact_refcount/kg_expand_hops;
        # doc_chunk_split — the windowing twin of in-window
        # doc_pack_sequences over the same tokenizer
        "kg_entity_pagerank": _q_kg_entity_pagerank,
        "doc_chunk_split": _q_doc_chunk_split,
        # doc_html_extract — the upstream extraction twin of in-window
        # doc_quality_filter/doc_dedup_lines (same line identity rule)
        "doc_html_extract": _q_doc_html_extract,
        # doc_corpus_datacard — reporting rollup composing in-window
        # identities (token count, lang ID, md5 text hash)
        "doc_corpus_datacard": _q_doc_corpus_datacard,
        # doc_html_links — web-graph edge extraction, the upstream feed
        # of kg_entity_pagerank/doc_domain_filter (both in-window shapes)
        "doc_html_links": _q_doc_html_links,
        # web-graph analytics layer (session-7 depth): anchor-text
        # profiles (entity-alias mining; D1/D6 agg shapes in-window via
        # nation_segment_collect/usage_top_event_types), domain-graph
        # rollup + per-page link signals (upstream composition of the
        # in-window doc_domain_filter URL identity), the composed
        # extraction->domains->PageRank chain (C4/D2 in-window twins as
        # for kg_entity_pagerank), the robots-meta compliance gate
        # (stateless twin of in-window doc_pii_scrub's codegen-map
        # shape), and the domain-level quality gate (agg+join-back
        # composition of in-window doc_quality_filter + doc_domain_filter
        # identities)
        "web_anchor_profiles": _q_web_anchor_profiles,
        "web_domain_graph": _q_web_domain_graph,
        "web_link_signals": _q_web_link_signals,
        "web_domain_pagerank": _q_web_domain_pagerank,
        "web_robots_gate": _q_web_robots_gate,
        "web_domain_quality": _q_web_domain_quality,
        # web_url_revisit — cross-snapshot crawl diff (C5-anti-join/D4
        # coalesce shapes in-window via customers_without_orders/
        # usage_totals_coalesce; snapshot identity = in-window
        # doc_exact_dedup's md5(text))
        "web_url_revisit": _q_web_url_revisit,
        # web_domain_reciprocity — link-farm signal (semi-join/degree-agg
        # shapes in-window via kg_rag_recall_stored/kg_fact_refcount)
        "web_domain_reciprocity": _q_web_domain_reciprocity,
        # web_latest_snapshot — multi-capture collapse (E3 ranked-pick
        # shape in-window via ranked_pick_latest_order)
        "web_latest_snapshot": _q_web_latest_snapshot,
        # rows-only (non-SQL-expressible: xxhash64 sketch, Python query
        # embedder)
        "doc_simhash_near_dups": _q_simhash_near_dups,
        "kg_rag_recall": _q_kg_rag_recall,
    }


def _lang_score_pick_sql() -> tuple[str, str, str]:
    """The (score_cols, best, pick) SQL fragments of the lang-ID argmax,
    GENERATED from text._LANG_STOPWORDS — the one definition both
    _build_lang_id_sql and _build_datacard_sql fold in, so the two
    oracles replay the identical stopword table and tie rule."""
    from nous_spark.operators.text import _LANG_STOPWORDS

    langs = sorted(_LANG_STOPWORDS)
    score_cols = ",\n                     ".join(
        "len(list_filter(words, w -> list_contains(["
        + ", ".join(f"'{w}'" for w in sorted(_LANG_STOPWORDS[lang]))
        + f"], w))) / nullif(len(words), 0) AS s_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    pick = " ".join(f"WHEN s_{lang} = _best THEN '{lang}'" for lang in langs)
    return score_cols, best, pick


def _build_lang_id_sql() -> str:
    """DuckDB mirror of text.lang_id_col, generated from the SAME
    stopword table so the two can never drift: per-lang score = (# word
    occurrences in the lang's stopword set) / #words, argmax with
    first-lang-wins ties (the Column form's strictly-greater loop), 'und'
    at or below the 0.02 floor."""
    score_cols, best, pick = _lang_score_pick_sql()
    return f"""
        WITH wt AS (
          SELECT lang,
                 list_filter(
                   regexp_split_to_array(
                     regexp_replace(lower(text), '[^a-záàâãéêíóôõúüçñ]+', ' ', 'g'),
                     ' '),
                   w -> w != '') AS words
          FROM documents
        ),
        scored AS (
          SELECT lang, len(words) AS n_words,
                     {score_cols}
          FROM wt
        ),
        best AS (SELECT *, {best} AS _best FROM scored),
        pred AS (
          SELECT lang,
                 CASE WHEN n_words > 0 AND _best > 0.02
                      THEN CASE {pick} END
                      ELSE 'und' END AS lang_pred
          FROM best
        )
        SELECT lang, lang_pred, count(*) AS n_docs FROM pred
        GROUP BY lang, lang_pred
    """


_LANG_ID_SQL = _build_lang_id_sql()


def _build_datacard_sql() -> str:
    """DuckDB mirror of curation.corpus_datacard, GENERATED from the
    same stopword table (via _lang_score_pick_sql) and replaying the
    module's token identity (regexp_split_to_array(trim(text), '\\s+'),
    NULL text stays NULL and drops out of sum/avg/min/max exactly like
    Spark's null-skipping aggregates), the md5 NULL≡'' text identity,
    and the (count DESC, lang ASC) mode tie-break. Integer '/' is
    float division in both engines — exact_dup_frac and top_lang_frac
    divide BIGINTs directly."""
    score_cols, best, pick = _lang_score_pick_sql()
    return f"""
        WITH wt AS (
          SELECT source, text,
                 list_filter(
                   regexp_split_to_array(
                     regexp_replace(lower(text), '[^a-záàâãéêíóôõúüçñ]+', ' ', 'g'),
                     ' '),
                   w -> w != '') AS words
          FROM documents
        ),
        scored AS (
          SELECT source, text, len(words) AS n_words,
                     {score_cols}
          FROM wt
        ),
        best AS (SELECT *, {best} AS _best FROM scored),
        per_doc AS (
          SELECT source,
                 CAST(length(regexp_split_to_array(trim(text), '\\s+'))
                      AS BIGINT) AS n_toks,
                 CASE WHEN n_words > 0 AND _best > 0.02
                      THEN CASE {pick} END
                      ELSE 'und' END AS lang_pred,
                 md5(coalesce(text, '')) AS h
          FROM best
        ),
        stats AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                 round(avg(n_toks), 4) AS avg_doc_tokens,
                 CAST(min(n_toks) AS BIGINT) AS min_doc_tokens,
                 CAST(max(n_toks) AS BIGINT) AS max_doc_tokens,
                 round(1 - count(DISTINCT h) / count(*), 4) AS exact_dup_frac
          FROM per_doc GROUP BY source
        ),
        lc AS (
          SELECT source, lang_pred, count(*) AS cnt
          FROM per_doc GROUP BY 1, 2
        ),
        top AS (
          SELECT source, lang_pred AS top_lang, cnt,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY cnt DESC, lang_pred ASC) AS rn
          FROM lc
        )
        SELECT s.source, s.n_docs, s.n_tokens, s.avg_doc_tokens,
               s.min_doc_tokens, s.max_doc_tokens, s.exact_dup_frac,
               t.top_lang, round(t.cnt / s.n_docs, 4) AS top_lang_frac
        FROM stats s JOIN top t ON s.source = t.source AND t.rn = 1
    """


def _build_quality_clf_sql() -> str:
    """DuckDB mirror of text.quality_classifier_score, the weight table
    and bias embedded from the SAME module constants at build time so
    SQL and engine can never drift. The featurization replays exactly:
    tfidf tokenizer ([a-z+accents]+ of the lowered text), adjacent-word
    bigrams joined with '_', the cross-engine md5 bucket hash, and the
    dyadic-rational weights whose sum is fold-order-independent (see the
    QUALITY_CLF_WEIGHTS table comment)."""
    from nous_spark.operators.text import QUALITY_CLF_BIAS, QUALITY_CLF_WEIGHTS

    n = len(QUALITY_CLF_WEIGHTS)
    wlist = "[" + ", ".join(repr(float(w)) for w in QUALITY_CLF_WEIGHTS) + "]"
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(
                     regexp_replace(lower(text), '[^a-záàâãéêíóôõúüçñ]+', ' ', 'g'),
                     ' '),
                   w -> w != '') AS tk
          FROM documents
        ),
        terms AS (
          SELECT doc_id,
                 list_concat(tk,
                   CASE WHEN len(tk) >= 2
                        THEN list_transform(range(1, len(tk)),
                                            i -> tk[i] || '_' || tk[i + 1])
                        ELSE [] END) AS ts
          FROM toks
        )
        SELECT doc_id,
               len(ts) AS n_terms,
               round(1.0 / (1.0 + exp(-({QUALITY_CLF_BIAS!r} +
                 coalesce(list_sum(list_transform(ts, t ->
                   {wlist}[(('0x' || substr(md5(t || ':42'), 1, 8))::BIGINT
                            % {n}) + 1])), 0)))), 4) AS quality_score
        FROM terms
    """


_QUALITY_CLF_SQL = _build_quality_clf_sql()


# DuckDB mirror of text.corpus_lm_nll — shared by the doc_corpus_lm_nll
# oracle and composed (nested WITH) into doc_ccnet_buckets.
_LM_NLL_SQL = rf"""
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z]+', ' ', 'g') AS s
      FROM documents
    ),
    bg AS (
      SELECT doc_id, s[i:i+1] AS bg
      FROM norm, UNNEST(range(1, length(s))) AS t(i)
      WHERE length(s) >= 2
    ),
    cnts AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY 1),
    pref AS (
      SELECT substr(bg, 1, 1) AS c1, sum(cnt) AS tot FROM cnts GROUP BY 1
    ),
    v AS (SELECT count(DISTINCT substr(bg, 2, 1)) AS vsz FROM cnts),
    scored AS (
      SELECT b.doc_id,
             CAST(round(-ln((c.cnt + 1) / CAST(p.tot + v.vsz AS DOUBLE))
                        * 1000000) AS BIGINT) AS m
      FROM bg b
      JOIN cnts c USING (bg)
      JOIN pref p ON p.c1 = substr(b.bg, 1, 1)
      CROSS JOIN v
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_bigrams,
             CAST(sum(m) AS BIGINT) AS nll_micro
      FROM scored GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(a.n_bigrams, 0) AS n_bigrams,
           coalesce(a.nll_micro, 0) AS nll_micro,
           {_micro_mean_4dp_sql("a.nll_micro", "a.n_bigrams")} AS avg_nll
    FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def _build_dsir_sql(
    n_buckets: int = 64,
    seed: int = 42,
    target_pred: str = "source IN ('src0', 'src1', 'src2')",
) -> str:
    """DuckDB mirror of text.dsir_log_ratio_score: replays the
    classifier featurization (tfidf tokenizer, '_'-joined adjacent
    bigrams, cross-engine md5 bucket hash), the add-one-smoothed
    bucket models of both corpora, and the exact integer micro-nat
    summation. The target predicate string is the SQL form of the
    Spark query's filter — passed in by the same caller, so the two
    engines gate the target corpus identically."""
    return f"""
        WITH toks AS (
          SELECT doc_id, source,
                 list_filter(
                   regexp_split_to_array(
                     regexp_replace(lower(coalesce(text, '')),
                                    '[^a-záàâãéêíóôõúüçñ]+', ' ', 'g'),
                     ' '),
                   w -> w != '') AS tk
          FROM documents
        ),
        terms AS (
          SELECT doc_id, source,
                 list_concat(tk,
                   CASE WHEN len(tk) >= 2
                        THEN list_transform(range(1, len(tk)),
                                            i -> tk[i] || '_' || tk[i + 1])
                        ELSE [] END) AS ts
          FROM toks
        ),
        occ AS (
          SELECT doc_id, source,
                 (('0x' || substr(md5(t || ':{seed}'), 1, 8))::BIGINT
                  % {n_buckets}) AS b
          FROM terms, UNNEST(ts) AS u(t)
        ),
        rc AS (SELECT b, count(*) AS rc FROM occ GROUP BY b),
        tc AS (SELECT b, count(*) AS tc FROM occ
               WHERE {target_pred} GROUP BY b),
        rt AS (SELECT sum(rc) AS rt FROM rc),
        tt AS (SELECT coalesce(sum(tc), 0) AS tt FROM tc),
        w AS (
          SELECT rc.b,
                 CAST(round((ln((coalesce(tc.tc, 0) + 1)
                               / (tt.tt + {n_buckets}))
                             - ln((rc.rc + 1) / (rt.rt + {n_buckets})))
                            * 1e6) AS BIGINT) AS wm
          FROM rc LEFT JOIN tc USING (b), rt, tt
        ),
        sc AS (
          SELECT doc_id, count(*) AS n_terms, sum(wm) AS m
          FROM occ JOIN w USING (b) GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(sc.n_terms, 0) AS n_terms,
               CAST(coalesce(sc.m, 0) AS BIGINT) AS dsir_micro,
               {_micro_mean_4dp_sql("sc.m", "sc.n_terms")} AS avg_log_ratio
        FROM documents d LEFT JOIN sc USING (doc_id)
    """


def _build_usage_cost_sql() -> str:
    """DuckDB mirror of usage_cost_rollup, rates generated from the SAME
    pricing table (pricing.PRICING_PER_1M) so they cannot drift."""
    from nous_spark.pricing import PRICING_PER_1M, per_token_rates

    values = ",\n              ".join(
        f"('{op}', {per_token_rates(op)[0]:.12f}::DECIMAL(18,12), "
        f"{per_token_rates(op)[1]:.12f}::DECIMAL(18,12))"
        for op in sorted(PRICING_PER_1M)
    )
    return f"""
        WITH rates(operation, prompt_per_token, completion_per_token) AS (
          VALUES {values}
        ),
        ev AS (
          SELECT CASE WHEN event_type IN ('purchase', 'signup') THEN 'extract'
                      WHEN event_type = 'view' THEN 'summarize'
                      ELSE 'embed' END AS operation,
                 event_id % 900 + 100 AS pt,
                 event_id % 400 + 50 AS ct
          FROM events
        )
        SELECT operation, count(*) AS n_events,
               CAST(sum(pt + ct) AS BIGINT) AS total_tokens,
               round(CAST(sum(
                 CAST(CAST(pt AS DECIMAL(18,0)) * prompt_per_token
                      + CAST(ct AS DECIMAL(18,0)) * completion_per_token
                      AS DECIMAL(18,8))
               ) AS DOUBLE), 6) AS cost_usd
        FROM ev JOIN rates USING (operation)
        GROUP BY operation
    """


def _build_emb_lsh_sql() -> str:
    """DuckDB mirror of dedup.embedding_near_dups at the entry query's
    parameters (threshold=0.4, n_planes=6, n_tables=8, seed=42,
    max_bucket=256, dim=64 — the testdata embeddings width).

    The hyperplanes are GENERATED from the same seeded source the
    operator uses (similarity.hyperplane_planes) and embedded as DOUBLE[]
    literals, so operator and oracle can never drift. The SQL replicates
    the FULL operator — per-table sign-bit bucketing, the max_bucket
    hot-bucket star-chain (_capped_bucket_pairs), cross-table candidate
    dedup, and exact cosine verification — so unlike the
    doc_minhash_near_dups oracle it needs NO blocking-recall assumption:
    a pair the blocking misses is missed identically on both sides.
    (Sign bits agree across engines because float->double widening is
    exact and the testdata projections are nowhere near the 1-ulp
    boundary where numpy-vs-DuckDB summation order could flip a sign.)
    """
    from nous_spark.operators.similarity import hyperplane_planes

    n_planes, n_tables, dim, seed, max_bucket = 6, 8, 64, 42, 256
    rows = []
    for t in range(n_tables):
        planes = hyperplane_planes(n_planes, dim, seed + 7919 * t)
        for j in range(n_planes):
            vec = ", ".join(repr(float(x)) for x in planes[j])
            rows.append(f"({t}, {1 << j}, [{vec}]::DOUBLE[])")
    values = ",\n              ".join(rows)
    return f"""
        WITH planes(tbl, w, p) AS (
          VALUES {values}
        ),
        b AS (
          SELECT pl.tbl, v.vec_id,
                 sum(CASE WHEN list_dot_product(v.embedding::DOUBLE[], pl.p) > 0
                          THEN pl.w ELSE 0 END) AS bucket
          FROM embeddings v CROSS JOIN planes pl
          GROUP BY pl.tbl, v.vec_id
        ),
        stats AS (
          SELECT tbl, bucket, count(*) AS n, min(vec_id) AS hub
          FROM b GROUP BY tbl, bucket
        ),
        cands AS (
          SELECT DISTINCT id_a, id_b FROM (
            SELECT a.vec_id AS id_a, bb.vec_id AS id_b
            FROM b a
            JOIN b bb ON a.tbl = bb.tbl AND a.bucket = bb.bucket
                     AND a.vec_id < bb.vec_id
            JOIN stats s ON s.tbl = a.tbl AND s.bucket = a.bucket
            WHERE s.n <= {max_bucket}
            UNION ALL
            SELECT s.hub AS id_a, m.vec_id AS id_b
            FROM b m JOIN stats s ON s.tbl = m.tbl AND s.bucket = m.bucket
            WHERE s.n > {max_bucket} AND m.vec_id <> s.hub
          )
        )
        SELECT c.id_a, c.id_b,
               round(list_cosine_similarity(va.embedding::DOUBLE[],
                                            vb.embedding::DOUBLE[]), 4) AS cosine
        FROM cands c
        JOIN embeddings va ON va.vec_id = c.id_a
        JOIN embeddings vb ON vb.vec_id = c.id_b
        WHERE list_cosine_similarity(va.embedding::DOUBLE[],
                                     vb.embedding::DOUBLE[]) >= 0.4
    """


def _build_ann_lsh_sql() -> str:
    """DuckDB mirror of the FULL ann_lsh_topk query (n_planes=8,
    n_probes=4, k=10, seed=42, dim=64, query = vec_id 0's embedding).

    The planes are GENERATED from similarity.hyperplane_planes and
    embedded as DOUBLE[] literals (no drift). The SQL replicates every
    stage of similarity.lsh_ann_topk: sign-bit bucket per vector, the
    query's own bucket, the multiprobe flip enumeration — planes ranked
    by |q·plane| ascending (row_number over (abs(proj), plane index),
    matching numpy's stable argsort), single/double/triple flip masks
    whose margins are summed IN THE SAME LEFT-ASSOCIATIVE RANK ORDER as
    the Python loop ((m_i + m_j) + m_l for rank i<j<l — IEEE addition
    is deterministic given operand order, so the sums are bit-identical)
    — the 3 cheapest masks by (margin, mask) XOR'd onto the query
    bucket, the bucket-pruned candidate semi-join, and the exact cosine
    top-10 with (score desc, vec_id) tiebreak. Sign bits and rank order
    agree across engines for the same reason as the emb_near_dup_lsh
    oracle: the testdata projections/margins are nowhere near the 1-ulp
    boundary where numpy-vs-DuckDB summation order could flip them.
    """
    from nous_spark.operators.similarity import hyperplane_planes

    n_planes, dim, seed, k, n_flips = 8, 64, 42, 10, 3  # n_probes=4 -> 3 flips
    planes = hyperplane_planes(n_planes, dim, seed)
    rows = []
    for j in range(n_planes):
        vec = ", ".join(repr(float(x)) for x in planes[j])
        rows.append(f"({j}, {1 << j}, [{vec}]::DOUBLE[])")
    values = ",\n              ".join(rows)
    return f"""
        WITH planes(j, w, p) AS (
          VALUES {values}
        ),
        q AS (
          SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
        ),
        qproj AS (
          SELECT pl.j, pl.w, list_dot_product(q.qv, pl.p) AS proj
          FROM planes pl, q
        ),
        qb AS (
          SELECT CAST(sum(CASE WHEN proj > 0 THEN w ELSE 0 END) AS BIGINT)
                   AS bucket
          FROM qproj
        ),
        ranked AS (
          SELECT w, abs(proj) AS m,
                 row_number() OVER (ORDER BY abs(proj), j) AS r
          FROM qproj
        ),
        masks AS (
          SELECT m AS margin, CAST(w AS BIGINT) AS mask FROM ranked
          UNION ALL
          SELECT a.m + b.m, CAST(a.w | b.w AS BIGINT)
          FROM ranked a JOIN ranked b ON a.r < b.r
          UNION ALL
          SELECT (a.m + b.m) + c.m, CAST((a.w | b.w) | c.w AS BIGINT)
          FROM ranked a JOIN ranked b ON a.r < b.r
                        JOIN ranked c ON b.r < c.r
        ),
        probes AS (
          SELECT bucket FROM qb
          UNION ALL
          SELECT xor(qb.bucket, f.mask)
          FROM (SELECT mask FROM masks ORDER BY margin, mask LIMIT {n_flips}) f,
               qb
        ),
        b AS (
          SELECT v.vec_id,
                 CAST(sum(CASE WHEN list_dot_product(v.embedding::DOUBLE[], pl.p) > 0
                               THEN pl.w ELSE 0 END) AS BIGINT) AS bucket
          FROM embeddings v CROSS JOIN planes pl
          GROUP BY v.vec_id
        ),
        cand AS (SELECT b.vec_id FROM b JOIN probes USING (bucket)),
        scored AS (
          SELECT v.vec_id,
                 list_cosine_similarity(v.embedding::DOUBLE[], q.qv) AS s
          FROM embeddings v JOIN cand USING (vec_id), q
        )
        SELECT vec_id, round(s, 4) AS score,
               CAST(row_number() OVER (ORDER BY s DESC, vec_id) AS BIGINT) AS rank
        FROM scored ORDER BY s DESC, vec_id LIMIT {k}
    """


# DuckDB mirror of the FULL ann_ivf_topk query (n_lists=16, nprobe=4,
# k=10, seed=42, query = vec_id 0's embedding). No generated literals
# needed: the md5 centroid draw (ivf_centroids_md5) is plain SQL — the
# 16 vectors with the smallest ('0x'||substr(md5(id||':42'),1,8))::BIGINT,
# (draw, id) order, list_id = position. Assignment = argmax cosine with
# first-index tiebreak (numpy argmax == ORDER BY cos DESC, list_id);
# probe order = cosine(centroid, query) DESC, list_id LIMIT 4 (numpy's
# stable argsort of the negated sims); exact cosine top-10 inside the
# probed lists. list_cosine_similarity normalizes internally, matching
# the operator's normalize-then-dot to well beyond the round(,4) gate.
_ANN_IVF_SQL = """
    WITH draw AS (
      SELECT vec_id, embedding,
             ('0x' || substr(md5(vec_id::VARCHAR || ':42'), 1, 8))::BIGINT AS h
      FROM embeddings
    ),
    cents AS (
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS list_id,
             embedding::DOUBLE[] AS c
      FROM draw ORDER BY h, vec_id LIMIT 16
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    assign AS (
      SELECT v.vec_id, c.list_id,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY list_cosine_similarity(v.embedding::DOUBLE[], c.c) DESC,
                        c.list_id
             ) AS rn
      FROM embeddings v CROSS JOIN cents c
    ),
    probe AS (
      SELECT c.list_id
      FROM cents c, q
      ORDER BY list_cosine_similarity(c.c, q.qv) DESC, c.list_id
      LIMIT 4
    ),
    cand AS (
      SELECT a.vec_id FROM assign a JOIN probe USING (list_id) WHERE a.rn = 1
    ),
    scored AS (
      SELECT v.vec_id, list_cosine_similarity(v.embedding::DOUBLE[], q.qv) AS s
      FROM embeddings v JOIN cand USING (vec_id), q
    )
    SELECT vec_id, round(s, 4) AS score,
           CAST(row_number() OVER (ORDER BY s DESC, vec_id) AS BIGINT) AS rank
    FROM scored ORDER BY s DESC, vec_id LIMIT 10
"""


# Exact all-pairs word-5-gram Jaccard pairs at threshold 0.5 — the
# oracle-side pair set SHARED by doc_minhash_near_dups (which emits the
# pairs) and doc_dedup_corpus (which clusters them): one definition, the
# two oracles cannot drift. Assumes the operator's LSH blocking recall
# is 1 on the bimodal testdata (pairs sit at J>=0.87 vs <0.3 — see
# CLAUDE.md invariant on threshold-borderline regeneration).
_MINHASH_PAIR_CTES = r"""words AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
              FROM documents
            ),
            sh AS (
              SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS g
              FROM words, UNNEST(range(1, greatest(len(w)-4, 1)+1)) AS t(i)
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ns
              FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            mh_pairs AS (
              SELECT id_a, id_b, round(ns / (sa.n + sb.n - ns), 4) AS jaccard
              FROM inter
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE round(ns / (sa.n + sb.n - ns), 4) >= 0.5
            )"""


def _build_pipeline_triples_sql() -> str:
    """DuckDB oracle for kg_pipeline_triples: a SEQUENTIAL pure-Python
    reference run of the whole extraction pipeline over the same fixed
    synthetic corpus (datagen.gen_row i=0..999, seed 42), pinned as a
    VALUES spec. Exercises the real check that matters for a distributed
    engine: the Spark path (mapInPandas extraction, exploded joins, the
    canonical-mapping join in stage_link) must reproduce the sequential
    reference EXACTLY — every page processed exactly once, every triple
    attached to the right uuid5 entity. Shares the pure functions
    (extract_text_str / extract_mentions_text / extract_triples_text /
    entity_id_for / fact_id) with the Spark stages, so the rule set
    cannot drift; what is independently exercised is the distribution."""
    from nous_spark.datagen import gen_row
    from nous_spark.extraction.html import extract_text_str
    from nous_spark.extraction.mentions import extract_mentions_text
    from nous_spark.extraction.triples import extract_triples_text
    from nous_spark.normalize import entity_id_for, fact_id

    def q(s: str) -> str:
        return s.replace("'", "''")

    rows = []
    for i in range(1000):
        page, _ = gen_row(i, seed=42)
        text = extract_text_str(page["html"])
        mentions = extract_mentions_text(text)
        if not mentions:
            continue
        eid = entity_id_for(mentions[0][0], mentions[0][1])
        for pred, ftype, fname, conf in extract_triples_text(text):
            rows.append(
                f"('{eid}', '{q(pred)}', '{q(fact_id(ftype, fname))}', "
                f"{conf!r}, '{q(page['url'])}')"
            )
    values = ",\n              ".join(rows)
    return f"""
        SELECT entity_id, pred, fact_id, confidence::DOUBLE AS confidence,
               source_url
        FROM (VALUES {values})
             t(entity_id, pred, fact_id, confidence, source_url)
    """


def _build_media_features_sql() -> str:
    """DuckDB oracle for media_image_features, generated by running the
    SAME pure functions the Spark operators execute (multimodal.
    synth_media_row -> image_feature_stats) driver-side over the fixed
    synthetic inputs and pinning the expected rows as a VALUES spec —
    the doc_canonical_urls pattern. Checks that the distributed
    mapInPandas path (Arrow binary transfer, batching, float32 feature
    storage) reproduces the sequential pure-Python reference exactly.
    Rounding parity: values pass through float32 (the stored feature
    type) then half-up 4-decimal rounding via Decimal(repr(x)) — the
    same decimal Spark's round(BigDecimal.valueOf(double)) sees."""
    from decimal import ROUND_HALF_UP, Decimal

    from nous_spark.operators.multimodal import (
        image_feature_stats,
        synth_media_row,
    )

    import numpy as np

    def r4(v: float) -> Decimal:
        return Decimal(repr(float(np.float32(v)))).quantize(
            Decimal("0.0001"), ROUND_HALF_UP
        )

    rows = []
    for i in range(0, 300, 3):  # media_type cycle: i % 3 == 0 -> image
        r = synth_media_row(i, seed=42)
        w, h, feats = image_feature_stats(r["content"], n_hist=8)
        rows.append(f"({i}, {w}, {h}, {r4(feats[0])}, {r4(feats[3])})")
    values = ",\n              ".join(rows)
    return f"""
        SELECT media_id, width, height,
               mean_r::DOUBLE AS mean_r, std_gray::DOUBLE AS std_gray
        FROM (VALUES {values})
             t(media_id, width, height, mean_r, std_gray)
    """


def _build_video_features_sql() -> str:
    """DuckDB oracle for media_video_features — the media_image_features
    pattern: expected per-frame rows computed driver-side from the SAME
    pure functions the Spark operators execute (multimodal.
    synth_media_row -> sampled_frame_bytes -> image_feature_stats) and
    pinned as VALUES. The Y4M rows exercise the real decode chain end to
    end (YUV4MPEG2 parse, C444/C420 plane reshape+upsample, BT.601
    YUV->RGB, BMP re-encode, BMP re-decode); FVID rows exercise the fake
    codec's seed mixing. Same float32-then-half-up-4dp rounding parity
    as the image oracle."""
    from decimal import ROUND_HALF_UP, Decimal

    from nous_spark.operators.multimodal import (
        image_feature_stats,
        sampled_frame_bytes,
        synth_media_row,
    )

    import numpy as np

    def r4(v: float) -> Decimal:
        return Decimal(repr(float(np.float32(v)))).quantize(
            Decimal("0.0001"), ROUND_HALF_UP
        )

    rows = []
    for i in range(2, 300, 3):  # media_type cycle: i % 3 == 2 -> video
        r = synth_media_row(i, seed=42)
        for fi, frame in sampled_frame_bytes(r["content"], every_n=2):
            w, h, feats = image_feature_stats(frame, n_hist=8)
            rows.append(f"({i}, {fi}, {w}, {h}, {r4(feats[0])}, {r4(feats[3])})")
    values = ",\n              ".join(rows)
    return f"""
        SELECT media_id, frame_idx, width, height,
               mean_r::DOUBLE AS mean_r, std_gray::DOUBLE AS std_gray
        FROM (VALUES {values})
             t(media_id, frame_idx, width, height, mean_r, std_gray)
    """


def _build_simhash_md5_sql() -> str:
    """DuckDB full replica of the doc_simhash_md5_near_dups pipeline at
    the entry query's parameters (seed=42, n_bits=32, max_hamming=3 ->
    4 x 8-bit pigeonhole chunks, max_bucket=256).

    Shares the md5-hex hash currency with dedup.simhash_fingerprints_md5
    (Spark: conv(substr(md5(w||':42'),1,8),16,10); DuckDB: ('0x' ||
    substr(md5(w||':42'),1,8))::BIGINT — identical 32-bit values), then
    replicates bit votes, fingerprint assembly, chunk blocking with the
    _capped_bucket_pairs star-chain, and the bit_count(xor) hamming
    verify. No recall assumption: blocking behaves identically on both
    sides by construction."""
    seed, n_bits, max_hamming, max_bucket = 42, 32, 3, 256
    n_chunks = max_hamming + 1
    width = n_bits // n_chunks
    mask = (1 << width) - 1
    chunk_rows = ", ".join(f"({i}, {i * width})" for i in range(n_chunks))
    fp_terms = "\n               + ".join(
        f"CASE WHEN 2 * len(list_filter(hs, h -> ((h >> {j}) & 1) = 1)) - len(hs) > 0"
        f" THEN {1 << j} ELSE 0 END"
        for j in range(n_bits)
    )
    return f"""
        WITH wt AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '\\s+'), w -> w != '') AS ws
          FROM documents
        ),
        h AS (
          SELECT doc_id,
                 list_transform(
                   ws, w -> ('0x' || substr(md5(w || ':{seed}'), 1, 8))::BIGINT
                 ) AS hs
          FROM wt
        ),
        fp AS (
          SELECT doc_id,
                 CASE WHEN len(hs) = 0 THEN 0 ELSE
               {fp_terms}
                 END AS simhash
          FROM h
        ),
        chunks AS (
          SELECT f.doc_id, c.chunk_idx, (f.simhash >> c.off) & {mask} AS chunk_val
          FROM fp f CROSS JOIN (VALUES {chunk_rows}) c(chunk_idx, off)
        ),
        stats AS (
          SELECT chunk_idx, chunk_val, count(*) AS n, min(doc_id) AS hub
          FROM chunks GROUP BY chunk_idx, chunk_val
        ),
        cands AS (
          SELECT DISTINCT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM chunks a
            JOIN chunks b ON a.chunk_idx = b.chunk_idx
                         AND a.chunk_val = b.chunk_val
                         AND a.doc_id < b.doc_id
            JOIN stats s ON s.chunk_idx = a.chunk_idx AND s.chunk_val = a.chunk_val
            WHERE s.n <= {max_bucket}
            UNION ALL
            SELECT s.hub AS id_a, m.doc_id AS id_b
            FROM chunks m
            JOIN stats s ON s.chunk_idx = m.chunk_idx AND s.chunk_val = m.chunk_val
            WHERE s.n > {max_bucket} AND m.doc_id <> s.hub
          )
        )
        SELECT c.id_a, c.id_b,
               bit_count(xor(fa.simhash, fb.simhash))::BIGINT AS hamming
        FROM cands c
        JOIN fp fa ON fa.doc_id = c.id_a
        JOIN fp fb ON fb.doc_id = c.id_b
        WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {max_hamming}
    """


def _build_substring_dedup_sql(k: int = 13) -> str:
    """DuckDB mirror of dedup.substring_dedup (keep_first, cross-doc)
    over the license-injected documents table — the identical gram-
    coverage rule: md5 word-k-gram table -> min(doc_id) per gram ->
    occurrences in later docs explode to covered token positions ->
    anti-join token rows -> per-doc rebuild. Generated with the same
    ``k`` and _LICENSE_SPAN as the Spark wrapper so the two can never
    drift."""
    return f"""
        WITH injected AS (
          SELECT doc_id,
                 text || CASE WHEN doc_id % 7 = 0
                              THEN ' {_LICENSE_SPAN}' ELSE '' END AS text
          FROM documents
        ),
        toks AS (
          SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(text), '\\s+') END AS w
          FROM injected
        ),
        grams AS (
          SELECT tk.doc_id, s.i - 1 AS pos,
                 md5(array_to_string(tk.w[s.i : s.i + {k - 1}], ' ')) AS gh
          FROM toks tk, unnest(generate_series(1, len(tk.w) - {k} + 1)) AS s(i)
        ),
        stats AS (
          SELECT gh, min(doc_id) AS first_id FROM grams GROUP BY gh
        ),
        dup AS (
          SELECT g.doc_id, g.pos
          FROM grams g JOIN stats st ON st.gh = g.gh
          WHERE g.doc_id > st.first_id
        ),
        covered AS (
          SELECT DISTINCT d.doc_id, d.pos + o.j AS cpos
          FROM dup d, unnest(generate_series(0, {k - 1})) AS o(j)
        ),
        tok_rows AS (
          SELECT tk.doc_id, s.i - 1 AS tpos, tk.w[s.i] AS tok
          FROM toks tk, unnest(generate_series(1, len(tk.w))) AS s(i)
        ),
        rebuilt AS (
          SELECT r.doc_id, string_agg(r.tok, ' ' ORDER BY r.tpos) AS text_clean
          FROM tok_rows r
          LEFT JOIN covered c ON c.doc_id = r.doc_id AND c.cpos = r.tpos
          WHERE c.cpos IS NULL
          GROUP BY r.doc_id
        ),
        spans AS (
          SELECT doc_id, COUNT(*) AS n_dup_tokens,
                 SUM(CASE WHEN prev IS NULL OR prev != cpos - 1
                          THEN 1 ELSE 0 END) AS n_dup_spans
          FROM (
            SELECT doc_id, cpos,
                   lag(cpos) OVER (PARTITION BY doc_id ORDER BY cpos) AS prev
            FROM covered
          )
          GROUP BY doc_id
        )
        SELECT tk.doc_id,
               CAST(len(tk.w) AS BIGINT) AS n_tokens,
               CAST(coalesce(sp.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
               CAST(coalesce(sp.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
               coalesce(rb.text_clean, '') AS text_clean
        FROM toks tk
        LEFT JOIN rebuilt rb ON rb.doc_id = tk.doc_id
        LEFT JOIN spans sp ON sp.doc_id = tk.doc_id
    """


def _build_pii_scrub_sql() -> str:
    """GENERATED from text.PII_PATTERNS (the CLAUDE.md shared-table
    rule): counts via regexp_extract_all, redaction via the same
    pattern-ordered regexp_replace chain ('g' = global, the DuckDB
    gotcha), over the identical injected-PII text expression."""
    from nous_spark.operators.text import PII_PATTERNS

    def q(s: str) -> str:
        return s.replace("'", "''")

    counts = ",\n                   ".join(
        f"CAST(len(regexp_extract_all(text, '{q(p)}')) AS INTEGER) AS n_{name}"
        for name, p, _ in PII_PATTERNS
    )
    red = "text"
    for _, p, tok in PII_PATTERNS:
        red = f"regexp_replace({red}, '{q(p)}', '{tok}', 'g')"
    return f"""
        WITH injected AS (
          SELECT doc_id,
                 text || ' contact user' || doc_id || '@example.com' ||
                 CASE WHEN doc_id % 2 = 0
                      THEN ' or +1 555-'
                           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END ||
                 ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ||
                 CASE WHEN doc_id % 3 = 0
                      THEN ' call (555) 867-'
                           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END ||
                 CASE WHEN doc_id % 5 = 0
                      THEN ' fax 555-123-'
                           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END AS text
          FROM documents
        )
        SELECT doc_id,
               {counts},
               {red} AS text_redacted
        FROM injected
    """


def oracle_sql() -> dict[str, str]:
    from nous_spark.graph import pagerank_oracle_sql
    from nous_spark.operators.curation import chunk_oracle_sql

    edges_cte = f"WITH edges AS ({EDGES_SQL})"
    return {
        "kg_entity_pagerank": pagerank_oracle_sql(
            f"SELECT src, dst FROM ({EDGES_SQL}) WHERE edge_type = 'HAS_FACT'",
            iterations=3,
            damping=0.85,
            round_to=4,
        ),
        "doc_chunk_split": chunk_oracle_sql(max_tokens=24, stride=16),
        "doc_html_extract": _html_extract_oracle_sql(
            source=_html_extract_source_sql()
        ),
        "doc_corpus_datacard": _build_datacard_sql(),
        "doc_html_links": _html_links_oracle_sql(
            source=_html_links_source_sql()
        ),
        "web_anchor_profiles": _anchor_profiles_oracle_sql(
            source=_web_links_with_src_sql()
        ),
        "web_domain_graph": _domain_link_graph_oracle_sql(
            source=_web_links_with_src_sql()
        ),
        "web_link_signals": _link_quality_signals_oracle_sql(
            source=_web_pages_source_sql()
        ),
        "web_domain_pagerank": pagerank_oracle_sql(
            _domain_edges_oracle_sql(source=_web_links_with_src_sql()),
            iterations=3,
            damping=0.85,
            round_to=4,
        ),
        "web_robots_gate": _robots_meta_oracle_sql(
            source=_web_robots_pages_sql()
        ),
        "web_domain_quality": _domain_quality_gate_oracle_sql(
            source=_web_scored_pages_sql(), min_mean_score=0.5, min_docs=3
        ),
        "web_url_revisit": _url_revisit_oracle_sql(*_web_revisit_sqls()),
        "web_domain_reciprocity": _domain_reciprocity_oracle_sql(
            source=_web_reciprocity_edges_sql(), src_col="src", dst_col="dst"
        ),
        "web_latest_snapshot": _latest_snapshot_oracle_sql(
            source=_web_snapshots_source_sql()
        ),
        "kg_recall_lookup": f"""
            {edges_cte}
            SELECT e.src AS entity_id, hf.pred AS pred, hf.dst AS fact_id,
                   substr(hf.dst, instr(hf.dst, ':') + 1) AS name,
                   CASE WHEN hf.dst LIKE 'Nation:%' THEN 'Nation' ELSE 'Segment' END AS fact_type
            FROM edges e
            JOIN edges hf ON hf.src = e.src AND hf.edge_type = 'HAS_FACT'
            WHERE e.edge_type = 'HAS_IDENTIFIER'
              AND e.dst = 'username:Customer#000000001'
        """,
        "kg_fact_refcount": f"""
            {edges_cte}
            SELECT dst AS fact_id, count(DISTINCT src) AS n_entities
            FROM edges WHERE edge_type = 'HAS_FACT' GROUP BY dst
        """,
        "kg_predicate_traversal": f"""
            {edges_cte}
            SELECT seg.src AS entity_id, lives.dst AS fact_id
            FROM edges seg JOIN edges lives ON lives.src = seg.src
            WHERE seg.edge_type = 'HAS_FACT' AND seg.dst = 'Segment:BUILDING'
              AND lives.edge_type = 'HAS_FACT' AND lives.pred = 'lives_in'
        """,
        "ranked_pick_latest_order": """
            SELECT o_custkey AS custkey, o_orderkey AS latest_orderkey,
                   round(o_totalprice, 2) AS totalprice
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
              ) AS rn FROM orders
            ) WHERE rn = 1
        """,
        "usage_daily_rollup": """
            SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                   count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1
        """,
        "usage_top_event_types": """
            SELECT event_type, count(*) AS n_events,
                   round(sum(value), 2) AS sum_value,
                   round(avg(value), 4) AS avg_value
            FROM events GROUP BY event_type
        """,
        "usage_totals_coalesce": """
            SELECT coalesce(round(sum(value), 2), 0.0) AS total_value,
                   count(*) AS n_events
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-05'
              AND event_type = 'purchase'
        """,
        "usage_pagination": """
            SELECT event_id, event_type, round(value, 2) AS value_r
            FROM events ORDER BY ts DESC, event_id DESC LIMIT 20 OFFSET 10
        """,
        "usage_cost_rollup": _build_usage_cost_sql(),
        "ann_lsh_topk": _build_ann_lsh_sql(),
        "ann_ivf_topk": _ANN_IVF_SQL,
        "emb_near_dup_lsh": _build_emb_lsh_sql(),
        "doc_simhash_md5_near_dups": _build_simhash_md5_sql(),
        "media_image_features": _build_media_features_sql(),
        "media_video_features": _build_video_features_sql(),
        "doc_repetition_signals": r"""
            WITH lines AS (
              SELECT doc_id, trim(l) AS line
              FROM documents, UNNEST(string_split(text, chr(10))) AS t(l)
              WHERE trim(l) != ''
            ),
            lc AS (
              SELECT doc_id, line, count(*) AS cnt, length(line) AS len
              FROM lines GROUP BY 1, 2
            ),
            lsig AS (
              SELECT doc_id,
                     CAST(sum(cnt) AS BIGINT) AS n_lines,
                     round((sum(cnt) - count(*)) / sum(cnt), 4) AS dup_line_frac,
                     round(sum(CASE WHEN cnt > 1 THEN cnt * len ELSE 0 END)
                             / sum(cnt * len), 4) AS dup_line_char_frac
              FROM lc GROUP BY doc_id
            ),
            w AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(text), '\s+') AS ws,
                     length(regexp_replace(trim(text), '\s+', '', 'g'))
                       AS word_chars
              FROM documents
            ),
            grams AS (
              SELECT doc_id, word_chars,
                     array_to_string(ws[i:i+1], ' ') AS gram
              FROM w, UNNEST(range(1, len(ws))) AS t(i)
              WHERE len(ws) >= 2
            ),
            gc AS (
              SELECT doc_id, word_chars, gram, count(*) AS cnt
              FROM grams GROUP BY 1, 2, 3
            ),
            top AS (
              SELECT doc_id,
                     round(least(1.0, cnt * (length(gram) - 1) / word_chars), 4)
                       AS top_2gram_char_frac,
                     row_number() OVER (
                       PARTITION BY doc_id ORDER BY cnt DESC, gram ASC
                     ) AS rn
              FROM gc
            )
            SELECT d.doc_id,
                   coalesce(n_lines, 0) AS n_lines,
                   coalesce(dup_line_frac, 0.0) AS dup_line_frac,
                   coalesce(dup_line_char_frac, 0.0) AS dup_line_char_frac,
                   coalesce(top_2gram_char_frac, 0.0) AS top_2gram_char_frac
            FROM documents d
            LEFT JOIN lsig USING (doc_id)
            LEFT JOIN (SELECT doc_id, top_2gram_char_frac FROM top WHERE rn = 1)
                 USING (doc_id)
        """,
        "doc_dedup_lines": """
            WITH lines AS (
              SELECT doc_id, i AS pos, trim(l[i]) AS line
              FROM (SELECT doc_id, string_split(text, chr(10)) AS l
                    FROM documents),
                   UNNEST(range(1, len(l) + 1)) AS t(i)
              WHERE trim(l[i]) != ''
            ),
            stats AS (
              SELECT line, count(DISTINCT doc_id) AS df,
                     min(doc_id) AS first_id
              FROM lines GROUP BY line
            ),
            kept AS (
              SELECT l.doc_id, l.pos, l.line,
                     (s.df < 2 OR l.doc_id = s.first_id) AS keep
              FROM lines l JOIN stats s USING (line)
            )
            SELECT d.doc_id,
                   CAST(coalesce(sum(CASE WHEN keep THEN 1 END), 0) AS BIGINT)
                     AS n_kept,
                   CAST(coalesce(sum(CASE WHEN NOT keep THEN 1 END), 0) AS BIGINT)
                     AS n_dropped,
                   coalesce(
                     string_agg(CASE WHEN keep THEN line END, chr(10)
                                ORDER BY pos),
                     '') AS text_clean
            FROM documents d LEFT JOIN kept k USING (doc_id)
            GROUP BY d.doc_id
        """,
        "doc_dedup_paragraphs": """
            WITH injected AS (
              SELECT doc_id,
                     replace(text, ' merge ', chr(10) || chr(10)) ||
                     CASE WHEN doc_id % 3 = 0
                          THEN chr(10) || chr(10) ||
                               'subscribe to our newsletter' || chr(10) ||
                               'unsubscribe anytime'
                          ELSE '' END AS text
              FROM documents
            ),
            paras AS (
              SELECT doc_id, i AS pos,
                     trim(p[i], ' ' || chr(9) || chr(13) || chr(10)) AS line
              FROM (SELECT doc_id, string_split_regex(text, '\\n\\s*\\n') AS p
                    FROM injected),
                   UNNEST(range(1, len(p) + 1)) AS t(i)
              WHERE trim(p[i], ' ' || chr(9) || chr(13) || chr(10)) != ''
            ),
            stats AS (
              SELECT line, count(DISTINCT doc_id) AS df,
                     min(doc_id) AS first_id
              FROM paras GROUP BY line
            ),
            kept AS (
              SELECT l.doc_id, l.pos, l.line,
                     (s.df < 2 OR l.doc_id = s.first_id) AS keep
              FROM paras l JOIN stats s USING (line)
            )
            SELECT d.doc_id,
                   CAST(coalesce(sum(CASE WHEN keep THEN 1 END), 0) AS BIGINT)
                     AS n_kept,
                   CAST(coalesce(sum(CASE WHEN NOT keep THEN 1 END), 0) AS BIGINT)
                     AS n_dropped,
                   coalesce(
                     string_agg(CASE WHEN keep THEN line END,
                                chr(10) || chr(10) ORDER BY pos),
                     '') AS text_clean
            FROM documents d LEFT JOIN kept k USING (doc_id)
            GROUP BY d.doc_id
        """,
        "doc_substring_dedup": _build_substring_dedup_sql(),
        "doc_decontaminate": """
            WITH tok AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
              FROM documents
            ),
            grams AS (
              SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS gram
              FROM tok, UNNEST(range(1, len(ws) - 6)) AS t(i)
              WHERE len(ws) >= 8
            ),
            eval_g AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0),
            train_g AS (
              SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 10 != 0
            ),
            hits AS (
              SELECT doc_id, count(*) AS n_shared_grams
              FROM train_g JOIN eval_g USING (gram) GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(n_shared_grams, 0) AS n_shared_grams,
                   coalesce(n_shared_grams, 0) > 0 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 10 != 0) d
            LEFT JOIN hits USING (doc_id)
        """,
        "doc_domain_filter": _domain_blocklist_oracle_sql(
            _DOMAIN_BLOCKLIST,
            source="""
                SELECT doc_id,
                  'https://'
                  || CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'www.'
                          WHEN 1 THEN 'cdn.' WHEN 2 THEN 'ads.' ELSE '' END
                  || source
                  || CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '.com'
                          WHEN 1 THEN '.co.uk' ELSE '.org' END
                  || CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END
                  || '/page/' || doc_id AS url
                FROM documents
            """,
        ),
        "doc_c4_line_filter": _c4_line_filter_oracle_sql(
            source=f"""
                SELECT doc_id,
                       replace(text, ' table ', '.' || chr(10))
                       || CASE WHEN doc_id % 5 = 0
                               THEN chr(10) || '{_C4_JS_LINE}' ELSE '' END
                       || CASE WHEN doc_id % 7 = 0
                               THEN chr(10) || '{_C4_LOREM_LINE}' ELSE '' END
                         AS text
                FROM documents
            """,
            min_kept_lines=2,
        ),
        "doc_soft_dedup": """
            WITH c AS (
              SELECT md5(coalesce(text, '')) AS h, count(*) AS n_copies
              FROM documents GROUP BY 1
            )
            SELECT doc_id, n_copies,
                   ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
                     / 4294967296.0
                   < 1.0 / n_copies AS keep
            FROM documents d JOIN c ON md5(coalesce(d.text, '')) = c.h
        """,
        "doc_shuffle_shards": """
            WITH t AS (
              SELECT doc_id,
                     ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT % 8
                       AS shard,
                     md5(doc_id::VARCHAR || ':shuf:42') AS sk
              FROM documents
            )
            SELECT doc_id, shard,
                   row_number() OVER (PARTITION BY shard ORDER BY sk, doc_id) AS pos
            FROM t
        """,
        "emb_decontaminate_semantic": """
            WITH ev AS (
              SELECT vec_id AS eval_id, embedding::DOUBLE[] AS ev
              FROM embeddings WHERE vec_id % 17 = 0
            ),
            scored AS (
              SELECT t.vec_id, e.eval_id,
                     round(list_cosine_similarity(t.embedding::DOUBLE[], e.ev),
                           4) AS s
              FROM embeddings t CROSS JOIN ev e
            ),
            best AS (
              SELECT vec_id, s AS max_eval_sim, eval_id AS nearest_eval_id,
                     row_number() OVER (
                       PARTITION BY vec_id ORDER BY s DESC, eval_id ASC
                     ) AS rn
              FROM scored
            )
            SELECT vec_id, max_eval_sim, nearest_eval_id,
                   max_eval_sim >= 0.35 AS contaminated
            FROM best WHERE rn = 1
        """,
        "doc_top_k_per_source": """
            SELECT source, doc_id, n_chars,
                   CAST(rank AS BIGINT) AS rank
            FROM (
              SELECT source, doc_id, n_chars,
                     row_number() OVER (
                       PARTITION BY source ORDER BY n_chars DESC, doc_id
                     ) AS rank
              FROM documents
            )
            WHERE rank <= 5
        """,
        "doc_pii_scrub": _build_pii_scrub_sql(),
        "doc_gopher_rules": _gopher_rules_oracle_sql(min_stop_words=1),
        "doc_dsir_scores": _build_dsir_sql(),
        "doc_token_budget_mix": _build_token_budget_mix_sql(),
        "doc_curation_pipeline": _build_curation_pipeline_sql(),
        "emb_cluster_sample": _EMB_CLUSTER_SAMPLE_SQL,
        "kg_pipeline_triples": _build_pipeline_triples_sql(),
        "doc_stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
                    / 4294967296.0
                  < CASE lang WHEN 'en' THEN 0.25
                              WHEN 'zh' THEN 1.0
                              ELSE 0.5 END
        """,
        "kg_batch_fact_removal": f"""
            WITH base_edges AS ({EDGES_SQL}),
            facts AS ({FACTS_SQL}),
            edges AS (
              SELECT * FROM base_edges
              UNION ALL
              SELECT fact_id, 'DERIVED_FROM', 'wiki:' || fact_id,
                     NULL, NULL, NULL, NULL
              FROM facts
            ),
            sources AS (SELECT 'wiki:' || fact_id AS source_id FROM facts),
            removals AS (
              SELECT DISTINCT src AS entity_id, dst AS fact_id
              FROM edges
              WHERE edge_type = 'HAS_FACT' AND dst = 'Nation:GERMANY'
              UNION
              SELECT 'cust:' || c_custkey, 'Segment:BUILDING'
              FROM customer WHERE c_custkey < 200
            ),
            ne AS (
              SELECT e.* FROM edges e
              WHERE NOT EXISTS (
                SELECT 1 FROM removals r
                WHERE e.edge_type = 'HAS_FACT'
                  AND e.src = r.entity_id AND e.dst = r.fact_id
              )
            ),
            orphaned AS (
              SELECT DISTINCT r.fact_id FROM removals r
              WHERE NOT EXISTS (
                SELECT 1 FROM ne
                WHERE ne.edge_type = 'HAS_FACT' AND ne.dst = r.fact_id
              )
            ),
            ne2 AS (
              SELECT * FROM ne
              WHERE NOT (edge_type = 'DERIVED_FROM'
                         AND src IN (SELECT fact_id FROM orphaned))
            ),
            nf AS (
              SELECT * FROM facts
              WHERE fact_id NOT IN (SELECT fact_id FROM orphaned)
            ),
            ns AS (
              SELECT s.source_id FROM sources s
              WHERE s.source_id IN (
                SELECT dst FROM ne2 WHERE edge_type = 'DERIVED_FROM'
              )
            )
            SELECT f.fact_id,
                   (SELECT count(*) FROM ne2 e
                    WHERE e.edge_type = 'HAS_FACT' AND e.dst = f.fact_id)
                     AS n_edges,
                   EXISTS (SELECT 1 FROM ns
                           WHERE ns.source_id = 'wiki:' || f.fact_id)
                     AS has_source
            FROM nf f
        """,
        "doc_tfidf_topk": r"""
            WITH wt AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(
                         regexp_replace(lower(text), '[^a-záàâãéêíóôõúüçñ]+', ' ', 'g'),
                         ' '),
                       w -> w != '') AS words
              FROM documents
            ),
            toks AS (SELECT doc_id, unnest(words) AS term FROM wt),
            tf AS (SELECT doc_id, term, count(*) AS tf_cnt FROM toks GROUP BY 1, 2),
            dl AS (SELECT doc_id, count(*) AS n_words FROM toks GROUP BY 1),
            dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term,
                     round((tf.tf_cnt / dl.n_words) * ln(n.n_docs / dft.df), 6)
                       AS score
              FROM tf JOIN dl USING (doc_id) JOIN dft USING (term) CROSS JOIN n
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term ASC
              ) AS rank
              FROM scored
            )
            SELECT doc_id, term, score, rank FROM ranked WHERE rank <= 5
        """,
        "doc_pack_sequences": r"""
            WITH t AS (
              SELECT doc_id, lang,
                     length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
                     ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT % 8
                       AS shard
              FROM documents
            )
            SELECT doc_id, lang, n_tokens,
                   CAST(floor(coalesce(sum(n_tokens) OVER (
                     PARTITION BY lang, shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) / 2048) * 8 + shard AS BIGINT) AS seq_id
            FROM t
        """,
        "tpch_q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3_shipping_priority": """
            SELECT l_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   o_orderdate
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1996-06-01'
              AND l_shipdate > TIMESTAMP '1996-06-01'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
            LIMIT 10
        """,
        "tpch_q5_local_supplier": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        "tpch_q6_forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.04 AND 0.06
              AND l_quantity < 24
        """,
        "tpch_q18_large_volume": """
            SELECT o_orderkey, o_custkey AS custkey,
                   round(total_qty, 1) AS total_qty,
                   round(o_totalprice, 2) AS totalprice
            FROM orders
            JOIN (
              SELECT l_orderkey, sum(l_quantity) AS total_qty
              FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
            ) big ON o_orderkey = big.l_orderkey
        """,
        "region_revenue": """
            SELECT n_name, round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
            GROUP BY n_name
        """,
        "customers_with_1995_orders": """
            SELECT c_custkey FROM customer
            WHERE EXISTS (
              SELECT 1 FROM orders WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '1995-01-01'
                AND o_orderdate < TIMESTAMP '1996-01-01')
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_mktsegment FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "customer_order_counts": """
            SELECT c_custkey, count(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON o_custkey = c_custkey
            GROUP BY c_custkey
        """,
        "nation_segment_collect": """
            SELECT n_name,
                   array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
                   count(DISTINCT c_custkey) AS n_customers
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "doc_exact_dedup": """
            SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
                   count(*) AS n_docs
            FROM documents GROUP BY md5(text)
        """,
        "doc_token_stats": r"""
            SELECT doc_id,
                   length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
                   round(length(regexp_replace(text, '\s', '', 'g'))
                         / length(regexp_split_to_array(trim(text), '\s+')), 4) AS avg_word_len,
                   round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                         / length(text), 4) AS punct_ratio,
                   round(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                         x -> x = 'the'))
                         / length(regexp_split_to_array(trim(text), '\s+')), 4) AS stop_the_ratio
            FROM documents
        """,
        "ann_cosine_scores": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS score
            FROM embeddings, q
            WHERE round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) >= 0.3
        """,
        "kg_neighborhood_lookup": f"""
            WITH edges AS ({EDGES_SQL}), facts AS ({FACTS_SQL})
            SELECT e.src AS entity_id, hf.pred AS pred, hf.dst AS fact_id,
                   f.name AS name, f.fact_type AS fact_type,
                   hf.confidence AS confidence,
                   CAST(NULL AS VARCHAR) AS source_id
            FROM edges e
            LEFT JOIN edges hf ON hf.src = e.src AND hf.edge_type = 'HAS_FACT'
            LEFT JOIN facts f ON f.fact_id = hf.dst
            WHERE e.edge_type = 'HAS_IDENTIFIER'
              AND e.dst = 'username:Customer#000000002'
        """,
        "kg_primary_identifier": f"""
            WITH edges AS ({EDGES_SQL})
            SELECT src AS entity_id, dst AS identifier_key
            FROM (
              SELECT src, dst, row_number() OVER (
                PARTITION BY src
                ORDER BY is_primary DESC NULLS LAST, created_at ASC NULLS LAST, dst ASC
              ) AS rn
              FROM edges WHERE edge_type = 'HAS_IDENTIFIER'
            ) WHERE rn = 1
        """,
        "kg_entity_summary": f"""
            WITH edges AS ({EDGES_SQL}), facts AS ({FACTS_SQL}),
            hf AS (
              SELECT src AS entity_id, dst AS fact_id, pred,
                     CASE WHEN pred = 'lives_in' THEN 0.8 ELSE confidence END AS confidence
              FROM edges WHERE edge_type = 'HAS_FACT'
            ),
            clauses AS (
              SELECT entity_id, pred, hf.fact_id,
                     CASE WHEN confidence >= 0.9 THEN ''
                          WHEN confidence >= 0.7 THEN 'likely '
                          ELSE 'possibly ' END
                       || pred || ' ' || fact_type || ': ' || name AS clause
              FROM hf JOIN facts ON facts.fact_id = hf.fact_id
            )
            SELECT entity_id, count(*) AS n_facts,
                   'The entity ' || string_agg(
                     clause, '; '
                     ORDER BY pred, fact_id, clause
                   ) || '.' AS summary
            FROM clauses GROUP BY entity_id
        """,
        "kg_summary_lang": f"""
            WITH edges AS ({EDGES_SQL}), facts AS ({FACTS_SQL}),
            hf AS (
              SELECT src AS entity_id, dst AS fact_id, pred,
                     CASE WHEN pred = 'lives_in' THEN 0.8 ELSE confidence END AS confidence
              FROM edges WHERE edge_type = 'HAS_FACT'
            ),
            clauses AS (
              SELECT entity_id, pred, hf.fact_id,
                     CASE WHEN confidence >= 0.9 THEN ''
                          WHEN confidence >= 0.7 THEN 'provavelmente '
                          ELSE 'possivelmente ' END
                       || pred || ' ' || fact_type || ': ' || name AS clause
              FROM hf JOIN facts ON facts.fact_id = hf.fact_id
            )
            SELECT entity_id, count(*) AS n_facts,
                   'A entidade ' || string_agg(
                     clause, '; '
                     ORDER BY pred, fact_id, clause
                   ) || '.' AS summary
            FROM clauses GROUP BY entity_id
        """,
        "emb_near_dup_exact": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 4) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]) >= 0.4
        """,
        "kg_rag_recall_stored": f"""
            WITH edges AS ({EDGES_SQL}), facts AS ({FACTS_SQL}),
            ent AS (
              SELECT DISTINCT src AS entity_id FROM edges
              WHERE edge_type = 'HAS_IDENTIFIER'
                AND dst = 'username:Customer#000000001'
            ),
            q AS (
              SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
            ),
            hf AS (
              SELECT src AS entity_id, dst AS fact_id, pred AS verb
              FROM edges WHERE edge_type = 'HAS_FACT'
            ),
            assigned AS (
              SELECT entity_id, fact_id, verb,
                     (row_number() OVER (
                        PARTITION BY entity_id ORDER BY fact_id, verb
                      )) % (SELECT count(*) FROM embeddings) AS vec_id
              FROM hf
            ),
            pts0 AS (
              SELECT entity_id, fact_id, verb, vec_id FROM assigned
              UNION ALL
              SELECT entity_id, fact_id || '#stale' AS fact_id, verb, vec_id
              FROM assigned
            ),
            hits AS (
              SELECT p.entity_id, p.fact_id, p.verb,
                     p.entity_id || '|' || p.verb || '|' || p.fact_id AS point_id,
                     list_inner_product(e.embedding::DOUBLE[], q.qv) AS score
              FROM pts0 p
              JOIN embeddings e ON e.vec_id = p.vec_id
              JOIN ent ON ent.entity_id = p.entity_id, q
            ),
            topk AS (
              SELECT entity_id, fact_id, verb, score,
                     row_number() OVER (
                       PARTITION BY entity_id ORDER BY score DESC, point_id ASC
                     ) AS rank
              FROM hits
            )
            SELECT t.entity_id, t.fact_id, t.verb,
                   round(t.score, 4) AS score, t.rank
            FROM topk t
            JOIN (SELECT DISTINCT src AS entity_id, dst AS fact_id
                  FROM edges WHERE edge_type = 'HAS_FACT') g
              ON g.entity_id = t.entity_id AND g.fact_id = t.fact_id
            WHERE t.rank <= 3
        """,
        "kg_salted_collect": f"""
            WITH edges AS ({EDGES_SQL})
            SELECT dst AS fact_id,
                   array_to_string(list_sort(list(DISTINCT pred)), ',') AS preds
            FROM edges WHERE edge_type = 'HAS_FACT'
            GROUP BY dst
        """,
        "doc_quality_filter": f"""
            WITH q AS (
              SELECT doc_id,
                     {_quality_score_sql_parts()[0]}
              FROM documents
            ), s AS (
              SELECT doc_id,
                     {_quality_score_sql_parts()[1]} AS score
              FROM q
            )
            SELECT doc_id, round(score, 2) AS quality_score,
                   score >= 0.7 AS keep
            FROM s
        """,
        "kg_expand_hops": f"""
            WITH edges AS ({EDGES_SQL}),
            e0 AS (
              SELECT DISTINCT src AS entity_id FROM edges
              WHERE edge_type = 'HAS_IDENTIFIER'
                AND dst = 'username:Customer#000000001'
            ),
            hf AS (
              SELECT src AS entity_id, dst AS fact_id FROM edges
              WHERE edge_type = 'HAS_FACT'
            ),
            d1 AS (
              SELECT DISTINCT h2.entity_id
              FROM e0
              JOIN hf h1 ON h1.entity_id = e0.entity_id
              JOIN hf h2 ON h2.fact_id = h1.fact_id
              WHERE h2.entity_id NOT IN (SELECT entity_id FROM e0)
            )
            SELECT entity_id, 0 AS depth FROM e0
            UNION ALL
            SELECT entity_id, 1 AS depth FROM d1
        """,
        "kg_entity_metadata": """
            SELECT 'cust:' || c_custkey AS entity_id,
                   '{"segment":"' || c_mktsegment || '","nation":"' || n_name
                     || '"}' AS metadata_json,
                   n_name AS nation_rt
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        """,
        # exact word-5-gram Jaccard all-pairs — parity with the LSH-blocked
        # + exact-verified operator requires (and thereby proves) blocking
        # recall 1 at >= 0.5 on this corpus
        "doc_minhash_near_dups": f"""
            WITH {_MINHASH_PAIR_CTES}
            SELECT id_a, id_b, jaccard FROM mh_pairs
        """,
        "doc_dedup_corpus": f"""
            WITH RECURSIVE {_MINHASH_PAIR_CTES},
            e AS (
              SELECT id_a AS src, id_b AS dst FROM mh_pairs
              UNION
              SELECT id_b, id_a FROM mh_pairs
            ),
            reach(id, comp) AS (
              SELECT src, src FROM e
              UNION
              SELECT e.src, r.comp FROM e JOIN reach r ON r.id = e.dst
            ),
            comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
            doomed AS (SELECT id FROM comp WHERE id <> component)
            SELECT d.doc_id FROM documents d
            LEFT JOIN doomed ON doomed.id = d.doc_id
            WHERE doomed.id IS NULL
        """,
        # same pair set + transitive closure, survivor = LONGEST member
        # (chars desc, id asc) instead of min-id — checks the two-phase
        # sharded argmax end to end. The component VALUE differs between
        # engines (encoded-string min vs numeric min) but the PARTITION
        # of members is identical, so the winner set is too.
        "doc_dedup_corpus_best": f"""
            WITH RECURSIVE {_MINHASH_PAIR_CTES},
            e AS (
              SELECT id_a AS src, id_b AS dst FROM mh_pairs
              UNION
              SELECT id_b, id_a FROM mh_pairs
            ),
            reach(id, comp) AS (
              SELECT src, src FROM e
              UNION
              SELECT e.src, r.comp FROM e JOIN reach r ON r.id = e.dst
            ),
            comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
            members AS (
              SELECT c.id, c.component, length(d.text) AS n_chars
              FROM comp c JOIN documents d ON d.doc_id = c.id
            ),
            winners AS (
              SELECT id FROM (
                SELECT id, row_number() OVER (
                  PARTITION BY component ORDER BY n_chars DESC, id ASC
                ) AS rn FROM members
              ) WHERE rn = 1
            ),
            doomed AS (
              SELECT m.id FROM members m
              LEFT JOIN winners w ON w.id = m.id
              WHERE w.id IS NULL
            )
            SELECT d.doc_id FROM documents d
            LEFT JOIN doomed ON doomed.id = d.doc_id
            WHERE doomed.id IS NULL
        """,
        "doc_quality_classifier": _QUALITY_CLF_SQL,
        # incremental ingest: previous snapshot = doc_id % 3 == 0
        "doc_dedup_incremental": """
            WITH seen AS (
              SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 = 0
            ),
            reps AS (
              SELECT md5(text) AS h, min(doc_id) AS doc_id
              FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1
            )
            SELECT r.doc_id FROM reps r
            LEFT JOIN seen s ON s.h = r.h
            WHERE s.h IS NULL
        """,
        # corpus-trained char-bigram LM, add-one smoothing; per-bigram
        # micro-nats round(-ln P * 1e6) summed as BIGINTs (fold-order
        # exact); avg_nll is the exact integer 4-dp mean (micro_mean_4dp)
        "doc_corpus_lm_nll": _LM_NLL_SQL,
        # CCNet head/middle/tail: exact per-lang order-statistic
        # thresholds over the lm-nll scores (the nested WITH is the
        # quality_weighted_sample composition trick)
        "doc_ccnet_buckets": f"""
            WITH nll AS ({_LM_NLL_SQL}),
            scored AS (
              SELECT d.doc_id, d.lang, n.avg_nll
              FROM documents d JOIN nll n USING (doc_id)
              WHERE n.avg_nll IS NOT NULL
            ),
            sc AS (
              SELECT lang, avg_nll, count(*) AS cnt
              FROM scored GROUP BY 1, 2
            ),
            cum AS (
              SELECT lang, avg_nll,
                     sum(cnt) OVER (PARTITION BY lang ORDER BY avg_nll)
                       AS cum
              FROM sc
            ),
            tot AS (SELECT lang, sum(cnt) AS n FROM sc GROUP BY 1),
            thr AS (
              SELECT c.lang,
                     min(CASE WHEN c.cum >= ceil(0.1 * t.n)
                              THEN c.avg_nll END) AS t0,
                     min(CASE WHEN c.cum >= ceil(0.5 * t.n)
                              THEN c.avg_nll END) AS t1
              FROM cum c JOIN tot t USING (lang) GROUP BY c.lang
            )
            SELECT s.doc_id, s.lang, s.avg_nll,
                   CASE WHEN s.avg_nll <= t.t0 THEN 'head'
                        WHEN s.avg_nll <= t.t1 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM scored s JOIN thr t USING (lang)
        """,
        # classifier scores -> deterministic Pareto keep rule; the
        # threshold is rounded to 6 decimals on both engines so a 1-ulp
        # pow() divergence cannot flip a keep decision
        "doc_quality_weighted_sample": f"""
            WITH scored AS ({_QUALITY_CLF_SQL})
            SELECT doc_id, quality_score FROM scored
            WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
                    / 4294967296.0
                  > round(1.0 - pow(2.0 - quality_score, -9.0), 6)
        """,
        # word-3-gram Jaccard with the stop-shingle df cap mirrored
        "doc_ngram_jaccard": r"""
            WITH words AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
              FROM documents
            ),
            sh0 AS (
              SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
              FROM words, UNNEST(range(1, greatest(len(w)-2, 1)+1)) AS t(i)
            ),
            rare AS (SELECT g FROM sh0 GROUP BY g HAVING count(*) <= 256),
            sh AS (SELECT sh0.doc_id, sh0.g FROM sh0 JOIN rare USING (g)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ns
              FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b, round(ns / (sa.n + sb.n - ns), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(ns / (sa.n + sb.n - ns), 4) >= 0.3
        """,
        "doc_bpe_tokens": r"""
            SELECT doc_id,
                   CAST(list_sum(list_transform(
                     regexp_extract_all(text, '\w+|[^\w\s]'),
                     tok -> CAST(ceil(length(tok) / 6.0) AS BIGINT)
                   )) AS BIGINT) AS n_tokens
            FROM documents
        """,
        "doc_lang_id_confusion": _LANG_ID_SQL,
        "doc_fingerprints": r"""
            WITH words AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
              FROM documents
            ),
            grams AS (
              SELECT doc_id,
                     list_transform(range(1, greatest(len(w)-3, 1)+1),
                                    i -> md5(array_to_string(w[i:i+3], ' '))) AS g
              FROM words
            ),
            mins AS (
              SELECT doc_id,
                     list_transform(range(1, greatest(len(g)-7, 1)+1),
                                    j -> list_min(g[j:j+7])) AS m
              FROM grams
            )
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(m))[1:16], ''))
                     AS fingerprint
            FROM mins
        """,
        "ann_batch_topk": """
            WITH q AS (
              SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 5
            ),
            scored AS (
              SELECT q.q_id, e.vec_id,
                     list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS s
              FROM embeddings e, q
            ),
            ranked AS (
              SELECT q_id, vec_id, s, row_number() OVER (
                PARTITION BY q_id ORDER BY s DESC, vec_id ASC
              ) AS rank
              FROM scored
            )
            SELECT q_id, vec_id, round(s, 4) AS score, rank
            FROM ranked WHERE rank <= 5
        """,
        "kg_embeddings_build": f"""
            WITH edges AS ({EDGES_SQL})
            SELECT DISTINCT src AS entity_id, dst AS fact_id, pred AS verb,
                   64 AS dim
            FROM edges WHERE edge_type = 'HAS_FACT'
        """,
        # spec-pinning oracle: expected canonical form per fixed variant
        "doc_canonical_urls": """
            SELECT CAST(row_id AS BIGINT) AS row_id, canonical
            FROM (VALUES
              (0, 'http://example.com/a/b?a=2&z=1'),
              (1, 'https://example.com/a/b/?a=2&z=1'),
              (2, 'https://example.com/a/b?a=2&z=1'),
              (3, 'http://example.com/'),
              (4, 'http://example.com/')
            ) AS t(row_id, canonical)
        """,
    }
