"""Cross-batch alias compaction: the batch half of the streaming lambda
split. Two micro-batches independently assimilated can leave one real
identity split across two canonical entity ids (the alias evidence only
arrived in batch 2); recanonicalize_graph merges them, idempotently."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from nous_spark.graph import recanonicalize_graph
from nous_spark.streaming import assimilate_batch
from nous_spark.datagen import html_of
from nous_spark.pipeline import GRAPH_TABLES

TS = dt.datetime(2024, 1, 1)


def _pages(spark, rows):
    return spark.createDataFrame(
        [
            (url, TS, html_of(text), text, "en")
            for url, text in rows
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def _load(spark, graph_dir):
    import os

    return {
        t: spark.read.parquet(os.path.join(graph_dir, t)) for t in GRAPH_TABLES
    }


def test_cross_batch_alias_split_then_compact(spark, tmp_path):
    from nous_spark.normalize import entity_id_for

    gd = str(tmp_path / "graph")
    # batch 1 must use the identifier whose anchor is NOT the pair's min —
    # then batch 2 (which sees the alias page and canonicalizes to the
    # min anchor) writes under a DIFFERENT id: a genuine cross-batch split
    email_id, user_id = "email:ada@x.com", "username:ada_l"
    if entity_id_for("email", "ada@x.com") < entity_id_for("username", "ada_l"):
        first, second = user_id, email_id
    else:
        first, second = email_id, user_id
    b1 = _pages(
        spark,
        [("u1", f"Identity: {first}\nAda lives in Paris.")],
    )
    assimilate_batch(b1, gd)
    # batch 2: the other identity asserts a different fact, PLUS the
    # alias page tying the two arrives only now
    b2 = _pages(
        spark,
        [
            ("u2", f"Identity: {second}\nAda works as a Programmer at Babbage."),
            ("u3", f"Identity: {email_id}\nIdentity: {user_id}\nProfile page."),
        ],
    )
    assimilate_batch(b2, gd)

    tables = _load(spark, gd)
    hf = tables["edges"].filter(F.col("edge_type") == "HAS_FACT")
    # the identity is split: facts spread over >1 entity id
    assert hf.select("src").distinct().count() == 2

    compacted = recanonicalize_graph(tables)
    chf = compacted["edges"].filter(F.col("edge_type") == "HAS_FACT")
    assert chf.select("src").distinct().count() == 1  # merged
    # all three facts retained under the canonical id
    assert chf.count() == hf.count()
    preds = {r["pred"] for r in chf.collect()}
    assert {"lives_in", "works_as", "works_at"} <= preds
    # both identifiers point at the canonical entity
    chi = compacted["edges"].filter(F.col("edge_type") == "HAS_IDENTIFIER")
    assert chi.select("src").distinct().count() == 1
    assert chi.count() == 2
    # nodes collapsed too, earliest created_at kept
    assert compacted["nodes"].count() == 1

    # idempotent: compacting again changes nothing
    again = recanonicalize_graph(compacted)
    for t in ("edges", "nodes"):
        a = again[t] if t != "nodes" else again[t].drop("metadata")
        b = compacted[t] if t != "nodes" else compacted[t].drop("metadata")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, t


def test_compaction_noop_without_shared_identifiers(spark, tmp_path):
    gd = str(tmp_path / "graph2")
    pages = _pages(
        spark,
        [
            ("u1", "Identity: email:x@x.com\nX lives in Oslo."),
            ("u2", "Identity: email:y@y.com\nY lives in Lima."),
        ],
    )
    assimilate_batch(pages, gd)
    tables = _load(spark, gd)
    out = recanonicalize_graph(tables)
    assert out["edges"].exceptAll(tables["edges"]).count() == 0
    assert out["edges"].count() == tables["edges"].count()


def test_compaction_equals_single_batch_build(spark, tmp_path):
    """Two batches + recanonicalize_graph == one batch of the same pages:
    compaction re-merges edges with the build's own merge rule, so the
    edges tables are equal and the nodes agree on (entity_id, created_at)."""
    from nous_spark.normalize import entity_id_for

    # the pages of test_cross_batch_alias_split_then_compact
    email_id, user_id = "email:ada@x.com", "username:ada_l"
    if entity_id_for("email", "ada@x.com") < entity_id_for("username", "ada_l"):
        first, second = user_id, email_id
    else:
        first, second = email_id, user_id
    b1 = [("u1", f"Identity: {first}\nAda lives in Paris.")]
    b2 = [
        ("u2", f"Identity: {second}\nAda works as a Programmer at Babbage."),
        ("u3", f"Identity: {email_id}\nIdentity: {user_id}\nProfile page."),
    ]
    split, whole = str(tmp_path / "split"), str(tmp_path / "whole")
    assimilate_batch(_pages(spark, b1), split)
    assimilate_batch(_pages(spark, b2), split)
    assimilate_batch(_pages(spark, b1 + b2), whole)

    compacted = recanonicalize_graph(_load(spark, split))
    single = _load(spark, whole)
    a, b = compacted["edges"], single["edges"]
    assert a.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    a, b = (t["nodes"].select("entity_id", "created_at") for t in (compacted, single))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
