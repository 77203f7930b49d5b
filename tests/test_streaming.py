"""Structured-Streaming incremental assimilation tests: micro-batched
ingest lands the same graph as the batch pipeline, replays append
nothing (exactly-once via the idempotent writer), and watermarked
event-time rollups aggregate correctly."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from nous_spark import schemas
from nous_spark.datagen import generate_pages
from nous_spark.pipeline import GRAPH_TABLES, run_pipeline
from nous_spark.streaming import (
    TABLE_KEYS,
    assimilate_batch,
    page_rate,
    read_pages_stream,
    start_assimilation,
)

N_PAGES = 40


@pytest.fixture()
def dirs(tmp_path):
    return {
        "pages": str(tmp_path / "pages"),
        "graph": str(tmp_path / "graph"),
        "cp": str(tmp_path / "cp"),
    }


def _write_pages(spark, dirs, lo: int, hi: int) -> None:
    """Materialize pages [lo, hi) as one new file in the stream dir."""
    pages = generate_pages(spark, hi, seed=42).filter(
        F.col("url") >= f"https://example.org/p/{lo:012d}"
    )
    pages.coalesce(1).write.mode("append").parquet(dirs["pages"])


def _drain(spark, dirs) -> None:
    q = start_assimilation(spark, dirs["pages"], dirs["graph"], dirs["cp"])
    q.awaitTermination(120)


def _counts(spark, dirs) -> dict[str, int]:
    out = {}
    for t in GRAPH_TABLES:
        p = os.path.join(dirs["graph"], t)
        out[t] = spark.read.parquet(p).count() if os.path.exists(p) else 0
    return out


def test_stream_matches_batch_and_is_exactly_once(spark, dirs):
    # micro-batch 1: pages [0, 20); micro-batch 2: pages [20, 40)
    _write_pages(spark, dirs, 0, 20)
    _drain(spark, dirs)
    first = _counts(spark, dirs)
    assert first["edges"] > 0

    _write_pages(spark, dirs, 20, N_PAGES)
    _drain(spark, dirs)
    streamed = _counts(spark, dirs)
    assert streamed["edges"] > first["edges"]

    # re-drain with nothing new: zero growth (checkpoint + idempotency)
    _drain(spark, dirs)
    assert _counts(spark, dirs) == streamed

    # replay the WHOLE corpus through the non-stream path: still no dups
    all_pages = generate_pages(spark, N_PAGES, seed=42)
    appended = assimilate_batch(all_pages, dirs["graph"])
    assert all(v == 0 for v in appended.values()), appended

    # per-table key uniqueness audit
    for t in GRAPH_TABLES:
        df = spark.read.parquet(os.path.join(dirs["graph"], t))
        assert df.count() == df.dropDuplicates(TABLE_KEYS[t]).count(), t

    # equivalence: streamed edges == batch-in-one-go edges
    batch_dir = dirs["graph"] + "_batch"
    shutil.rmtree(batch_dir, ignore_errors=True)
    assimilate_batch(all_pages, batch_dir)
    streamed_edges = spark.read.parquet(os.path.join(dirs["graph"], "edges"))
    batch_edges = spark.read.parquet(os.path.join(batch_dir, "edges"))
    key = [F.col(k) for k in TABLE_KEYS["edges"]]
    assert (
        streamed_edges.select(*key).exceptAll(batch_edges.select(*key)).count() == 0
        and batch_edges.select(*key).exceptAll(streamed_edges.select(*key)).count() == 0
    )


CONTRACTS = {
    "nodes": schemas.NODES,
    "identifiers": schemas.IDENTIFIERS,
    "facts": schemas.FACTS,
    "sources": schemas.SOURCES,
    "edges": schemas.EDGES,
}


def _fields(schema):
    return [(f.name, f.dataType) for f in schema]


def test_batch_and_streaming_write_the_same_graph(spark, tmp_path):
    """run_pipeline and assimilate_batch over the same pages build all
    five graph tables through the same functions: equal rows (both ways,
    with multiplicity) and each table's fields equal its schemas.py
    contract."""
    pages = generate_pages(spark, 200, seed=42)
    batch = run_pipeline(spark, pages, str(tmp_path / "run"))
    assimilate_batch(pages, str(tmp_path / "graph"))

    for name in GRAPH_TABLES:
        got_b = batch[name]
        got_s = spark.read.parquet(str(tmp_path / "graph" / name))
        assert _fields(got_b.schema) == _fields(CONTRACTS[name]), name
        assert _fields(got_s.schema) == _fields(CONTRACTS[name]), name
        if name == "nodes":  # set ops reject MAP columns
            got_b, got_s = (
                df.withColumn("metadata", F.array_sort(F.map_entries("metadata")))
                for df in (got_b, got_s)
            )
        assert got_b.count() > 0, name
        assert got_b.exceptAll(got_s).count() == 0, name
        assert got_s.exceptAll(got_b).count() == 0, name


def test_stateful_running_fact_counts(spark, tmp_path):
    """applyInPandasWithState: distinct-fact state survives across
    micro-batches and re-asserted facts count zero new."""
    from nous_spark.streaming import running_entity_fact_counts

    import time as _time

    src = str(tmp_path / "triples")
    # two files written with distinct mtimes -> two micro-batches
    # (maxFilesPerTrigger=1 processes oldest-first)
    spark.createDataFrame(
        [("eA", "f1"), ("eA", "f2"), ("eA", "f1"), ("eB", "f1")],
        "entity_id string, fact_id string",
    ).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    spark.createDataFrame(
        [("eA", "f1"), ("eA", "f3")], "entity_id string, fact_id string"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("entity_id string, fact_id string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        running_entity_fact_counts(stream)
        .writeStream.format("memory")
        .queryName("state_q")
        .option("checkpointLocation", str(tmp_path / "cp_state"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {
        (r["entity_id"], r["n_total"], r["n_new"])
        for r in spark.sql("select * from state_q").collect()
    }
    # batch 1: within-batch dedup of f1; batch 2: state remembers f1
    assert ("eA", 2, 2) in rows
    assert ("eB", 1, 1) in rows
    assert ("eA", 3, 1) in rows  # cross-micro-batch state


def test_fact_state_bounded_at_hot_entity_scale():
    """10^4 facts on ONE entity: state promotes from exact set to the
    fixed 16 KiB Bloom, stays byte-bounded forever after, keeps the
    no-false-negative replay contract, and counts within 1%."""
    from nous_spark.streaming import _BLOOM_BITS, _update_fact_state

    state, total_new = None, 0
    for batch in range(100):  # 100 micro-batches x 100 facts
        fids = [f"fact:{batch:03d}:{i:03d}" for i in range(100)]
        state, n_new = _update_fact_state(state, fids)
        total_new += n_new
    fact_ids, bloom, n_total = state
    assert fact_ids is None and bloom is not None  # sketch mode engaged
    assert len(bloom) == _BLOOM_BITS // 8  # exactly 16 KiB, not O(facts)
    assert n_total == total_new
    assert abs(n_total - 10_000) <= 100  # <=1% bloom-FP undercount
    # replaying EVERY fact counts zero new (bloom: no false negatives)
    replay = [f"fact:{b:03d}:{i:03d}" for b in range(100) for i in range(100)]
    state2, n_new2 = _update_fact_state(state, replay)
    assert n_new2 == 0 and state2[2] == n_total


def test_stateful_counts_bloom_mode_end_to_end(spark, tmp_path):
    """The promoted (Bloom) state round-trips through the streaming
    state store: two micro-batches on a hot entity with max_exact=8."""
    import time as _time

    from nous_spark.streaming import running_entity_fact_counts

    src = str(tmp_path / "hot_triples")
    spark.createDataFrame(
        [("eH", f"f{i}") for i in range(50)], "entity_id string, fact_id string"
    ).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    spark.createDataFrame(  # 25 replayed + 25 fresh
        [("eH", f"f{i}") for i in range(25, 75)],
        "entity_id string, fact_id string",
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("entity_id string, fact_id string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        running_entity_fact_counts(stream, max_exact=8)
        .writeStream.format("memory")
        .queryName("bloom_state_q")
        .option("checkpointLocation", str(tmp_path / "cp_bloom"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {
        (r["n_total"], r["n_new"])
        for r in spark.sql("select * from bloom_state_q").collect()
    }
    assert (50, 50) in rows  # batch 1 (promotion mid-batch)
    assert (75, 25) in rows  # batch 2: bloom state survived the store


def test_streaming_embeddings_mirror(spark, dirs):
    """Incremental vector mirror: exactly-once on replay (H5 analog)."""
    _write_pages(spark, dirs, 0, 20)
    all_pages = generate_pages(spark, 20, seed=42)
    first = assimilate_batch(all_pages, dirs["graph"], with_embeddings=True)
    assert first["embeddings"] > 0
    again = assimilate_batch(all_pages, dirs["graph"], with_embeddings=True)
    assert again["embeddings"] == 0
    emb = spark.read.parquet(os.path.join(dirs["graph"], "embeddings"))
    assert emb.count() == emb.dropDuplicates(["point_id"]).count()
    assert _fields(emb.schema) == _fields(schemas.EMBEDDINGS)


def test_page_rate_watermarked_rollup(spark, dirs):
    _write_pages(spark, dirs, 0, 20)
    stream = read_pages_stream(spark, dirs["pages"])
    assert stream.isStreaming
    q = (
        page_rate(stream, "1 hour", "2 hours")
        .writeStream.format("memory")
        .queryName("page_rate_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select sum(n_pages) as n from page_rate_test").first()["n"]
    assert got == 20
    # static-frame parity: same expression over a batch read
    static = page_rate(spark.read.parquet(dirs["pages"]), "1 hour", "2 hours")
    assert static.agg(F.sum("n_pages")).first()[0] == 20


def test_dedup_pages_stream_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a url replayed within the watermark
    window is emitted once."""
    from nous_spark.streaming import dedup_pages_stream

    src = str(tmp_path / "dup_pages")
    pages = generate_pages(spark, 10, seed=42)
    dup = pages.unionByName(pages.limit(5))  # 5 urls duplicated
    dup.coalesce(1).write.mode("append").parquet(src)

    from nous_spark.schemas import PAGES

    stream = spark.readStream.schema(PAGES).parquet(src)
    q = (
        dedup_pages_stream(stream, "1 hour")
        .select("url")
        .writeStream.format("memory")
        .queryName("dedup_q")
        .option("checkpointLocation", str(tmp_path / "cp_dedup"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    urls = [r["url"] for r in spark.sql("select url from dedup_q").collect()]
    assert len(urls) == 10
    assert len(set(urls)) == 10


def test_stateless_curation_ops_compose_with_streaming(spark, tmp_path):
    """pii_scrub and pack-free curation columns are stateless Column maps,
    so they must run unchanged on a readStream frame (the incremental
    ingest path of a curation pipeline) and agree with the batch result."""
    from nous_spark.operators.text import pii_scrub

    src = str(tmp_path / "docs_src")
    docs = spark.createDataFrame(
        [(1, "mail a@b.io now"), (2, "server 10.0.0.1 up"), (3, "clean")],
        "doc_id long, text string",
    )
    docs.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        pii_scrub(stream)
        .writeStream.format("memory")
        .queryName("pii_stream_q")
        .option("checkpointLocation", str(tmp_path / "cp_pii"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["n_emails"], r["n_ipv4s"], r["text_redacted"])
        for r in spark.sql("select * from pii_stream_q").collect()
    }
    want = {
        r["doc_id"]: (r["n_emails"], r["n_ipv4s"], r["text_redacted"])
        for r in pii_scrub(docs).collect()
    }
    assert got == want
    assert got[1][2] == "mail <EMAIL> now"


def test_token_budget_mix_streams_with_pinned_totals(spark, tmp_path):
    """token_budget_mix with pinned_totals is a stateless Column map —
    it must run per micro-batch (maxFilesPerTrigger=1, two files) and
    agree row-for-row with BOTH the pinned-totals batch run and the
    global-totals batch run when the pinned profile equals the actual
    corpus totals. (With a drifting profile the realized mix drifts —
    documented in the operator docstring; this pins the equality case.)"""
    import time

    from nous_spark.operators.curation import token_budget_mix

    weights = {"en": 0.6, "de": 0.4}
    budget = 60
    rows = [
        (i, "en" if i % 3 else "de", "tok " * (3 + i % 5)) for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    src = str(tmp_path / "mix_src")
    docs.filter("doc_id < 20").coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # distinct mtimes -> two micro-batches in one run
    docs.filter("doc_id >= 20").coalesce(1).write.mode("append").parquet(src)

    totals = {
        r["lang"]: r["tot"]
        for r in docs.groupBy("lang").agg(F.expr(
            "sum(size(split(trim(text), '\\\\s+')))").alias("tot")).collect()
    }
    stream = (
        spark.readStream.schema("doc_id long, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        token_budget_mix(stream, weights, budget, pinned_totals=totals)
        .writeStream.format("memory")
        .queryName("mix_stream_q")
        .option("checkpointLocation", str(tmp_path / "cp_mix"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2  # genuinely multi-micro-batch
    got = {
        (r["doc_id"], r["lang"], r["n_tokens"])
        for r in spark.sql("select * from mix_stream_q").collect()
    }
    want_pinned = {
        (r["doc_id"], r["lang"], r["n_tokens"])
        for r in token_budget_mix(docs, weights, budget, pinned_totals=totals).collect()
    }
    want_global = {
        (r["doc_id"], r["lang"], r["n_tokens"])
        for r in token_budget_mix(docs, weights, budget).collect()
    }
    assert got == want_pinned == want_global
    assert 0 < len(got) < 40  # the budget genuinely subsamples


def test_quality_classifier_composes_with_streaming(spark, tmp_path):
    """quality_classifier_score is a pure per-row Column expression (zero
    exchanges — see its plan audit), so it must run unchanged on a
    readStream frame and agree with the batch result: the learned
    quality filter can score documents at ingest time, before they ever
    land in the corpus."""
    from nous_spark.operators.text import quality_classifier_score

    src = str(tmp_path / "docs_src")
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, ""), (3, "lorem ipsum dolor sit amet")],
        "doc_id long, text string",
    )
    docs.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        quality_classifier_score(stream)
        .writeStream.format("memory")
        .queryName("qclf_stream_q")
        .option("checkpointLocation", str(tmp_path / "cp_qclf"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["n_terms"], r["quality_score"])
        for r in spark.sql("select * from qclf_stream_q").collect()
    }
    want = {
        r["doc_id"]: (r["n_terms"], r["quality_score"])
        for r in quality_classifier_score(docs).collect()
    }
    assert got == want


def test_quality_pipeline_filters_at_ingest(spark, tmp_path):
    """classifier -> Pareto sampler composes as ONE stateless map over a
    readStream frame (score + keep decision at ingest time, before the
    corpus ever lands) and selects exactly the batch path's survivors."""
    from nous_spark.operators.curation import quality_weighted_sample
    from nous_spark.operators.text import quality_classifier_score

    src = str(tmp_path / "docs_src")
    docs = spark.createDataFrame(
        [(i, f"sample text number {i} with some shared words") for i in range(40)],
        "doc_id long, text string",
    )
    docs.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        quality_weighted_sample(quality_classifier_score(stream))
        .writeStream.format("memory")
        .queryName("qpipe_stream_q")
        .option("checkpointLocation", str(tmp_path / "cp_qpipe"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"] for r in spark.sql("select doc_id from qpipe_stream_q").collect()
    }
    want = {
        r["doc_id"]
        for r in quality_weighted_sample(quality_classifier_score(docs)).collect()
    }
    assert got == want and 0 < len(want) < 40


def test_gopher_rules_compose_with_streaming(spark, tmp_path):
    """gopher_rules is a stateless Column map (zero exchanges), so it
    must run unchanged on a readStream frame — the ingest-time rule
    gate of a curation pipeline — and agree with the batch result."""
    from nous_spark.operators.text import gopher_rules

    src = str(tmp_path / "gopher_src")
    docs = spark.createDataFrame(
        [
            (1, "the cat sat with a friendly dog " * 8),  # passes
            (2, "too short the with"),  # fails word count
            (3, None),  # NULL convention
        ],
        "doc_id long, text string",
    )
    docs.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        gopher_rules(stream)
        .writeStream.format("memory")
        .queryName("gopher_stream_q")
        .option("checkpointLocation", str(tmp_path / "cp_gopher"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["n_words"], r["keep"])
        for r in spark.sql("select * from gopher_stream_q").collect()
    }
    want = {
        r["doc_id"]: (r["n_words"], r["keep"])
        for r in gopher_rules(docs).collect()
    }
    assert got == want
    assert got[1][1] is True and got[2][1] is False and got[3][1] is False


def test_decontaminate_semantic_composes_with_streaming(spark, tmp_path):
    """decontaminate_semantic is a stateless broadcast-matmul map (the
    eval matrix is collected from a BATCH frame at build time), so the
    training side can be a readStream frame: contamination is flagged at
    ingest, before a doc ever lands in the corpus. Stream == batch."""
    import numpy as np

    from nous_spark.operators.dedup import decontaminate_semantic

    rng = np.random.RandomState(23)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(30)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ev = vecs.filter("vec_id % 5 = 0")

    src = str(tmp_path / "vec_src")
    vecs.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("vec_id long, embedding array<float>").parquet(src)
    q = (
        decontaminate_semantic(stream, ev, threshold=0.5)
        .writeStream.format("memory")
        .queryName("decon_sem_stream_q")
        .option("checkpointLocation", str(tmp_path / "cp_decon_sem"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["vec_id"]: (r["max_eval_sim"], r["nearest_eval_id"], r["contaminated"])
        for r in spark.sql("select * from decon_sem_stream_q").collect()
    }
    want = {
        r["vec_id"]: (r["max_eval_sim"], r["nearest_eval_id"], r["contaminated"])
        for r in decontaminate_semantic(vecs, ev, threshold=0.5).collect()
    }
    assert got == want and len(want) == 30


def test_html_extract_composes_with_streaming(spark, tmp_path):
    """html_extract is a stateless codegen Column chain (zero exchanges
    — see its plan-audit test), so crawl payloads can be stripped to
    text AT INGEST on a readStream frame, before any curation stage
    sees them. Stream == batch."""
    from nous_spark.operators.text import html_extract

    src = str(tmp_path / "html_src")
    docs = spark.createDataFrame(
        [
            (1, "<html><body><p>Hello &amp; goodbye.</p></body></html>"),
            (2, "<script>skip()</script><p>kept line.</p>"),
            (3, None),
        ],
        "doc_id long, html string",
    )
    docs.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("doc_id long, html string").parquet(src)
    q = (
        html_extract(stream)
        .writeStream.format("memory")
        .queryName("html_stream_q")
        .option("checkpointLocation", str(tmp_path / "cp_html"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["text"], r["n_lines"], r["text_density"])
        for r in spark.sql("select * from html_stream_q").collect()
    }
    want = {
        r["doc_id"]: (r["text"], r["n_lines"], r["text_density"])
        for r in html_extract(docs).collect()
    }
    assert got == want
    assert got[1][0] == "Hello & goodbye."
