"""End-to-end pipeline tests: P/R at corpus scale, byte-identity across
parallelism, alias canonicalization, resume-without-recompute."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nous_spark.datagen import generate_expected, generate_pages
from nous_spark.graph import entity_neighborhood
from nous_spark.pipeline import run_pipeline, stage_extract

N_PAGES = 600


@pytest.fixture(scope="module")
def run_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("nous_run"))


@pytest.fixture(scope="module")
def tables(spark, run_dir):
    pages = generate_pages(spark, N_PAGES, seed=42)
    return run_pipeline(spark, pages, run_dir, run_id="t")


def _pr(spark, run_dir, n_pages):
    exp = generate_expected(spark, n_pages, seed=42)
    linked = spark.read.parquet(f"{run_dir}/triples")
    men = spark.read.parquet(f"{run_dir}/mentions")
    subj = men.filter(F.col("mention_rank") == 0).select(
        "url", F.col("entity_key").alias("subj")
    )
    emitted = linked.join(subj, linked.source_url == subj.url).select(
        "subj",
        "pred",
        F.concat_ws(":", "fact_type", "fact_name").alias("obj"),
        linked.source_url.alias("url"),
    )
    e2 = (
        exp.withColumn("pred_alt", F.explode(F.split("pred_alts", r"\|")))
        .withColumn("obj_alt", F.explode(F.split("obj_alts", r"\|")))
        .withColumn("alt_type", F.substring_index("obj_alt", ":", 1))
        .withColumn("alt_name", F.expr("substring(obj_alt, instr(obj_alt, ':')+1)"))
    )
    m2 = emitted.withColumn("obj_type", F.substring_index("obj", ":", 1)).withColumn(
        "obj_name", F.expr("substring(obj, instr(obj, ':')+1)")
    )
    matches = (
        m2.join(
            e2,
            (m2.url == e2.url)
            & (m2.subj == e2.subj)
            & (m2.pred == e2.pred_alt)
            & (m2.obj_name == e2.alt_name)
            & ((e2.alt_type == "*") | (m2.obj_type == e2.alt_type)),
            "inner",
        )
        .select(m2.url, m2.subj, m2.pred, m2.obj)
        .distinct()
    )
    tp = matches.count()
    n_emitted = emitted.distinct().count()
    n_expected = exp.count()
    return tp / n_emitted, tp / n_expected


def test_pr_gate(spark, run_dir, tables):
    precision, recall = _pr(spark, run_dir, N_PAGES)
    assert precision >= 0.95, precision
    assert recall >= 0.95, recall


def test_graph_tables_nonempty_and_keyed(tables):
    edges = tables["edges"]
    assert edges.count() > 0
    hf = edges.filter(F.col("edge_type") == "HAS_FACT")
    assert hf.count() == hf.dropDuplicates(["src", "dst", "pred"]).count()
    facts = tables["facts"]
    assert facts.count() == facts.dropDuplicates(["fact_id"]).count()


def test_alias_canonicalization_merges(spark, run_dir, tables):
    """Alias pages (kind 8) carry email+username of one persona; after CC
    both identifiers must resolve to the SAME canonical entity."""
    men = spark.read.parquet(f"{run_dir}/mentions")
    mapping = spark.read.parquet(f"{run_dir}/canonical")
    m = men.join(mapping, "anchor_id")
    multi = (
        m.groupBy("url")
        .agg(
            F.countDistinct("anchor_id").alias("n_anchor"),
            F.countDistinct("entity_id").alias("n_entity"),
        )
        .filter(F.col("n_anchor") > 1)
    )
    assert multi.count() > 0  # alias pages exist
    assert multi.filter(F.col("n_entity") > 1).count() == 0  # all merged


def test_text_byte_identity_across_parallelism(spark):
    """BASELINE.md invariant: hash(text) per url identical at different
    parallelism levels of the same input."""
    from nous_spark.pipeline import stage_extract

    pages = generate_pages(spark, 200, seed=42)
    a = stage_extract(pages.repartition(1)).select("url", F.sha2("text", 256).alias("h"))
    b = stage_extract(pages.repartition(13)).select("url", F.sha2("text", 256).alias("h"))
    assert a.join(b, "url").filter(a.h != b.h).count() == 0
    assert a.count() == 200


def test_resume_skips_and_is_identical(spark, run_dir, tables):
    pages = generate_pages(spark, N_PAGES, seed=42)
    again = run_pipeline(spark, pages, run_dir, run_id="t")
    for name in ("edges", "facts", "nodes"):
        assert again[name].count() == tables[name].count()
    # no duplicate dedup-keys after re-run (exactly-once)
    hf = again["edges"].filter(F.col("edge_type") == "HAS_FACT")
    assert hf.count() == hf.dropDuplicates(["src", "dst", "pred"]).count()


def test_tenant_partitioned_output(spark, tmp_path):
    """tenant_id stamps rows and hive-partitions the graph tables
    (SURVEY.md §1.3 physical tenancy); tenant filters prune partitions."""
    import os

    pages = generate_pages(spark, 50, seed=42)
    out = run_pipeline(spark, pages, str(tmp_path / "t"), run_id="t", tenant_id="acme")
    edges = out["edges"]
    assert edges.filter(F.col("tenant_id") == "acme").count() == edges.count() > 0
    assert os.path.isdir(str(tmp_path / "t" / "graph_edges" / "tenant_id=acme"))


def test_recall_query_end_to_end(spark, tables):
    """Hot persona appears on many pages; recall returns its facts with
    provenance, predicate filter narrows."""
    res = entity_neighborhood(
        tables["edges"], tables["facts"], "email", "persona0@example.com"
    )
    rows = res.collect()
    assert len(rows) > 0
    assert all(r["entity_id"] is not None for r in rows)
    filtered = entity_neighborhood(
        tables["edges"], tables["facts"], "email", "persona0@example.com", pred="lives_in"
    )
    assert 0 < filtered.count() <= len(rows)
    assert all(r["pred"] == "lives_in" for r in filtered.collect())


def test_empty_corpus_is_graceful(spark, tmp_path):
    """Zero pages (an empty partition/day on a cluster) runs end-to-end
    and produces empty-but-valid tables, not a crash."""
    pages = generate_pages(spark, 0, seed=42)
    tables = run_pipeline(spark, pages, str(tmp_path / "empty"), run_id="e")
    assert {k: v.count() for k, v in tables.items()} == {
        "nodes": 0, "identifiers": 0, "facts": 0, "sources": 0, "edges": 0
    }


def test_text_only_pages_still_extract(spark):
    """PAGES allows html-less rows carrying text directly; they must
    contribute mentions/triples via the text fallback."""
    import datetime as dt

    from nous_spark.pipeline import stage_extract

    rows = [
        (
            "u1",
            dt.datetime(2024, 1, 1),
            None,  # no html
            "Identity: email:t@x.com\nTara lives in Quito.",
            "en",
        )
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    doc = stage_extract(pages).collect()[0]
    assert doc["text"].startswith("Identity:")
    assert len(doc["mentions"]) == 1
    assert any(t["pred"] == "lives_in" for t in doc["triples"])


def test_lineage_and_metrics_idempotent_on_resume(spark, tmp_path):
    """Re-running a completed run must not duplicate lineage/metrics rows."""
    out = str(tmp_path / "lmrun")
    pages = generate_pages(spark, 30, seed=42)
    run_pipeline(spark, pages, out, run_id="lm")
    lineage1 = spark.read.parquet(f"{out}/lineage").count()
    metrics1 = spark.read.parquet(f"{out}/metrics").count()
    run_pipeline(spark, pages, out, run_id="lm")  # full resume, all skipped
    assert spark.read.parquet(f"{out}/lineage").count() == lineage1
    assert spark.read.parquet(f"{out}/metrics").count() == metrics1


def test_history_column_feeds_extraction(spark, tmp_path):
    """A pages.history column (prior conversation turns) extends the
    extraction scan: facts from history AND the current text attach to
    the subject established in history, while the emitted text stays the
    page's own content (byte-identity contract)."""
    import datetime as dt

    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    history = (
        "Identity: email:test.user@example.com\n"
        "I moved to Paris last year."
    )
    rows = [("https://x.test/1", ts, None, "I work as a software engineer now.", "en", history)]
    pages = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string, history string",
    )
    doc = stage_extract(pages).collect()[0]
    assert doc["text"] == "I work as a software engineer now."  # page text untouched
    assert [(m["id_type"], m["id_value"]) for m in doc["mentions"]] == [
        ("email", "test.user@example.com")
    ]
    preds = {t["pred"] for t in doc["triples"]}
    assert {"moved_to", "works_as"} <= preds

    out = str(tmp_path / "histrun")
    tables = run_pipeline(spark, pages, out, run_id="hist")
    hf = tables["edges"].filter("edge_type = 'HAS_FACT'").collect()
    assert {r["dst"] for r in hf} >= {"Location:Paris", "Profession:Software Engineer"}
    assert len({r["src"] for r in hf}) == 1  # both facts on the history subject


def test_nodes_metadata_populated(spark, tmp_path):
    """nodes.metadata carries deterministic per-entity facts (F5/F10):
    first_seen_url = url of the EARLIEST mention (min over (warc_ts, url)
    structs), primary_id_type from the rank-0 mention — and survives
    recanonicalization via the to_json/from_json merge."""
    from nous_spark.graph import recanonicalize_graph

    out = str(tmp_path / "metarun")
    pages = generate_pages(spark, 50, seed=42)
    tables = run_pipeline(spark, pages, out, run_id="meta")
    nodes = tables["nodes"].collect()
    assert nodes and all(r["metadata"] is not None for r in nodes)
    assert all("first_seen_url" in r["metadata"] for r in nodes)
    assert all(r["metadata"]["primary_id_type"] in
               ("email", "phone", "username", "uuid", "social_id", "unknown")
               for r in nodes)
    compacted = recanonicalize_graph(tables)
    cn = compacted["nodes"].collect()
    assert all(r["metadata"] is not None and "first_seen_url" in r["metadata"] for r in cn)


def test_metrics_token_cost_ledger(spark, tmp_path):
    """The extract stage's metrics row carries (tokens, cost_usd) priced
    at write time with the Decimal(18,8) contract (F7/G4)."""
    from decimal import Decimal

    from nous_spark.pricing import cost_usd

    out = str(tmp_path / "costrun")
    pages = generate_pages(spark, 40, seed=42)
    run_pipeline(spark, pages, out, run_id="cost")
    ledger = spark.read.parquet(f"{out}/metrics")
    # the ledger's exact column set
    assert sorted(ledger.columns) == sorted(
        ["run_id", "stage", "rows_out", "tokens", "cost_usd", "started_at",
         "finished_at", "status", "error_type"]
    )
    rows = {r["stage"]: r for r in ledger.collect()}
    ex = rows["extract"]
    assert ex["tokens"] is not None and ex["tokens"] > 0
    assert isinstance(ex["cost_usd"], Decimal)
    assert ex["cost_usd"] == cost_usd("extract", ex["tokens"])
    assert ex["cost_usd"] > 0
    # stages with no provider-call analog stay NULL, not zero
    assert rows["mentions"]["tokens"] is None
    assert rows["mentions"]["cost_usd"] is None
