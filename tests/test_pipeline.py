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


# Python-evaluating physical operators: ArrowEvalPython/BatchEvalPython
# (UDFs) and the MapInPandas/FlatMapGroupsInPandas/MapInArrow family
PYTHON_NODES = ("EvalPython", "InPandas", "InArrow")


def test_only_extract_evaluates_python(spark, run_dir, tables):
    """Every stage after extract runs JVM-only: a uuid5 or CC result that
    silently fell back to a Python UDF or a pickled RDD would cost a
    Python job per stage again."""
    from nous_spark.graph import build_entity_tables, build_fact_tables
    from nous_spark.linking import cooccurrence_alias_edges_from_arrays
    from nous_spark.pipeline import stage_canonical, stage_link, stage_mentions

    docs = spark.read.parquet(f"{run_dir}/extract")
    mentions = spark.read.parquet(f"{run_dir}/mentions")
    mapping = spark.read.parquet(f"{run_dir}/canonical")
    linked = spark.read.parquet(f"{run_dir}/triples")
    mm = mentions.join(mapping, "anchor_id").select(
        "url", "mention_rank", "id_type", "id_value", "entity_id", "warc_ts"
    )
    frames = {
        "mentions": stage_mentions(docs),
        "alias_edges": cooccurrence_alias_edges_from_arrays(docs),  # CC's input
        "canonical": stage_canonical(mentions, docs=docs),
        "link": stage_link(docs, mapping),
        **{f"entity_{k}": v for k, v in build_entity_tables(mm).items()},
        **{f"fact_{k}": v for k, v in build_fact_tables(linked, mm).items()},
    }
    for name, df in frames.items():
        assert df.collect(), name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not [n for n in PYTHON_NODES if n in plan], (name, plan)


def _sql_plans_run(spark, fn) -> list[str]:
    """Physical plan descriptions of the SQL executions ``fn()`` runs.
    Unlike the plan of a returned frame, these include executions an
    eager ``localCheckpoint`` ran and hid behind a scan of its RDD. The
    status store is fed by the listener bus, so a marker execution is
    awaited first: once it is recorded, every earlier one is too."""
    import time
    import uuid

    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        lst = store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    before = max((e.executionId() for e in executions()), default=-1)
    fn()
    marker = f"marker-{uuid.uuid4()}"
    spark.sparkContext.setJobDescription(marker)
    try:
        spark.range(1).collect()
    finally:
        spark.sparkContext.setJobDescription(None)
    deadline = time.time() + 30
    while time.time() < deadline:
        new = [e for e in executions() if e.executionId() > before]
        if any(e.description() == marker for e in new):
            return [e.physicalPlanDescription() for e in new if e.description() != marker]
        time.sleep(0.05)
    raise AssertionError("marker execution never reached the status store")


def test_lsh_canonical_evaluates_no_python(spark, run_dir, tables):
    """``use_lsh=True`` adds the fuzzy-alias blocking and scoring to the
    canonical stage, all in the JVM: no execution it runs, including
    the ones behind its eager checkpoint, holds a Python node."""
    from nous_spark.linking import canonical_mapping, cooccurrence_alias_edges_from_arrays

    docs = spark.read.parquet(f"{run_dir}/extract")
    mentions = spark.read.parquet(f"{run_dir}/mentions")
    holder = []

    def build():
        mapping = canonical_mapping(
            mentions, cooccur_edges=cooccurrence_alias_edges_from_arrays(docs), use_lsh=True
        )
        holder.append(mapping.collect())

    plans = _sql_plans_run(spark, build)
    assert holder[0] and plans
    assert [n for p in plans for n in PYTHON_NODES if n in p] == []


def _jobs_started(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` starts on this thread. The status
    tracker is fed by the asynchronous listener bus, so a marker job in
    a second group is awaited first: once it is visible, every earlier
    job is too."""
    import time
    import uuid

    sc = spark.sparkContext
    group, marker = f"probe-{uuid.uuid4()}", f"marker-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(marker, marker)
        spark.range(1).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while not sc.statusTracker().getJobIdsForGroup(marker) and time.time() < deadline:
        time.sleep(0.05)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpoint_readback_starts_no_job(spark, tmp_path):
    """Run.read hands back every stage (the tenant-partitioned graph
    tables included) with the schema a schema-inferring read would find,
    without the footer job that inference runs."""
    from nous_spark.pipeline import Run

    out = str(tmp_path / "readback")
    pages = generate_pages(spark, 60, seed=42)
    tables = run_pipeline(spark, pages, out, run_id="rb", tenant_id="acme")
    run = Run(spark, out, "rb")
    stages = ["extract", "mentions", "canonical", "triples"] + [f"graph_{t}" for t in tables]
    for stage in stages:
        holder = []
        assert _jobs_started(spark, lambda: holder.append(run.read(stage).schema)) == [], stage
        assert holder[0] == spark.read.parquet(run.path(stage)).schema, stage
    for name, df in tables.items():
        assert df.schema == spark.read.parquet(run.path(f"graph_{name}")).schema, name
    # the probe sees the job a schema-less read starts
    assert _jobs_started(spark, lambda: spark.read.parquet(run.path("mentions")))


def test_failed_stage_lands_in_ledger(spark, tmp_path, monkeypatch):
    """A checkpoint whose write raises leaves a status='failed' ledger row
    naming the exception type, re-raises, and the ledger is still
    flushed with the stages that finished."""
    from nous_spark import pipeline

    real_link = pipeline.stage_link

    def failing_link(docs, mapping):
        return real_link(docs, mapping).withColumn("pred", F.raise_error(F.lit("failed on purpose")))

    monkeypatch.setattr(pipeline, "stage_link", failing_link)
    out = str(tmp_path / "failrun")
    pages = generate_pages(spark, 30, seed=42)
    with pytest.raises(Exception) as exc:
        run_pipeline(spark, pages, out, run_id="f")
    ledger = {r["stage"]: r for r in spark.read.parquet(f"{out}/metrics").collect()}
    failed = ledger["triples"]
    assert (failed["status"], failed["error_type"]) == ("failed", exc.type.__name__)
    assert failed["rows_out"] is None and failed["started_at"] <= failed["finished_at"]
    for stage in ("extract", "mentions", "canonical"):
        assert (ledger[stage]["status"], ledger[stage]["error_type"]) == ("ok", None)
    assert "triples" not in pipeline.Run(spark, out, "f").manifest["stages"]
