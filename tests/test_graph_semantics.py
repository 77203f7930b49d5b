"""Graph-semantics scenarios from FIXTURES.md §3 — the batch analogs of
the reference's AGE-repository integration tests
(test_age_repository_integration.py:117-144, 369-427, 470-501, 758-816)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from nous_spark.graph import (
    HAS_FACT,
    build_fact_tables,
    delete_entity,
    entity_facts,
    entity_neighborhood,
    fact_refcounts,
    find_entity_by_identifier,
    idempotent_append,
    primary_identifier,
    remove_fact_from_entity,
)

TS = dt.datetime(2024, 1, 1)
TS2 = dt.datetime(2024, 1, 2)


@pytest.fixture(scope="module")
def fixture_tables(spark):
    """Two entities, one shared fact (different verbs), plus a private fact
    and provenance — FIXTURES.md §3 scenario 2/3 shape."""
    edges = spark.createDataFrame(
        [
            # entity A: identifiers (primary + secondary)
            ("eA", "HAS_IDENTIFIER", "email:a@x.com", None, None, True, TS),
            ("eA", "HAS_IDENTIFIER", "username:a_handle", None, None, False, TS2),
            ("eB", "HAS_IDENTIFIER", "email:b@x.com", None, None, True, TS),
            # shared fact with different verbs (scenario 2)
            ("eA", "HAS_FACT", "Hobby:Hiking", "enjoys", 0.95, None, TS),
            ("eB", "HAS_FACT", "Hobby:Hiking", "likes", 0.9, None, TS),
            # private fact of A, two verbs (scenario 3)
            ("eA", "HAS_FACT", "Location:Paris", "lives_in", 0.98, None, TS),
            ("eA", "HAS_FACT", "Location:Paris", "visits", 0.7, None, TS),
            # provenance
            ("Hobby:Hiking", "DERIVED_FROM", "urlS", None, None, None, TS),
            ("Location:Paris", "DERIVED_FROM", "urlP", None, None, None, TS),
        ],
        "src string, edge_type string, dst string, pred string, confidence double, is_primary boolean, created_at timestamp",
    )
    facts = spark.createDataFrame(
        [
            ("Hobby:Hiking", "Hiking", "Hobby"),
            ("Location:Paris", "Paris", "Location"),
        ],
        "fact_id string, name string, fact_type string",
    )
    nodes = spark.createDataFrame(
        [("eA", TS, None), ("eB", TS, None)],
        "entity_id string, created_at timestamp, metadata map<string,string>",
    )
    sources = spark.createDataFrame(
        [("urlS", None, TS), ("urlP", None, TS)],
        "source_id string, content string, ts timestamp",
    )
    identifiers = spark.createDataFrame(
        [("a@x.com", "email"), ("a_handle", "username"), ("b@x.com", "email")],
        "value string, id_type string",
    )
    return {
        "edges": edges,
        "facts": facts,
        "nodes": nodes,
        "sources": sources,
        "identifiers": identifiers,
    }


def test_lookup_by_identifier(spark, fixture_tables):
    got = find_entity_by_identifier(fixture_tables["edges"], "email", "a@x.com").collect()
    assert [r["entity_id"] for r in got] == ["eA"]


def test_entity_facts_with_predicate_filter(spark, fixture_tables):
    e = find_entity_by_identifier(fixture_tables["edges"], "email", "a@x.com")
    all_facts = entity_facts(fixture_tables["edges"], fixture_tables["facts"], e)
    assert all_facts.count() == 3
    only_lives = entity_facts(
        fixture_tables["edges"], fixture_tables["facts"], e, pred="lives_in"
    )
    assert [r["fact_id"] for r in only_lives.collect()] == ["Location:Paris"]


def test_neighborhood_includes_provenance(spark, fixture_tables):
    rows = entity_neighborhood(
        fixture_tables["edges"], fixture_tables["facts"], "email", "a@x.com"
    ).collect()
    by_fact = {(r["fact_id"], r["pred"]): r["source_id"] for r in rows}
    assert by_fact[("Hobby:Hiking", "enjoys")] == "urlS"
    assert by_fact[("Location:Paris", "lives_in")] == "urlP"


def test_zero_fact_entity_still_returned(spark):
    """OPTIONAL MATCH semantics (C2): entity with no facts -> one row."""
    edges = spark.createDataFrame(
        [("eZ", "HAS_IDENTIFIER", "email:z@x.com", None, None, True, TS)],
        "src string, edge_type string, dst string, pred string, confidence double, is_primary boolean, created_at timestamp",
    )
    facts = spark.createDataFrame([], "fact_id string, name string, fact_type string")
    rows = entity_neighborhood(edges, facts, "email", "z@x.com").collect()
    assert len(rows) == 1
    assert rows[0]["entity_id"] == "eZ" and rows[0]["fact_id"] is None


def test_idempotent_append_is_exactly_once(spark, fixture_tables):
    """H1/H2: re-appending the same batch adds nothing (test :117-144, :470-501)."""
    edges = fixture_tables["edges"]
    hf = edges.filter(F.col("edge_type") == "HAS_FACT")
    again = idempotent_append(hf.unionByName(hf), hf, ["src", "dst", "pred"])
    assert again.count() == 0
    fresh = spark.createDataFrame(
        [("eB", "HAS_FACT", "Location:Paris", "lives_in", 0.9, None, TS)],
        edges.schema,
    )
    assert idempotent_append(fresh, hf, ["src", "dst", "pred"]).count() == 1


def test_refcounts(spark, fixture_tables):
    rc = {r["fact_id"]: r["n_entities"] for r in fact_refcounts(fixture_tables["edges"]).collect()}
    assert rc == {"Hobby:Hiking": 2, "Location:Paris": 1}


def test_delete_entity_preserves_shared_fact(spark, fixture_tables):
    """Scenario 2 (test :369-427): deleting A keeps the shared fact and B's
    edge; A's private fact + provenance are cascaded."""
    out = delete_entity(fixture_tables, "eA")
    facts_left = {r["fact_id"] for r in out["facts"].collect()}
    assert facts_left == {"Hobby:Hiking"}  # shared fact survives
    edges_left = out["edges"].collect()
    assert all(r["src"] != "eA" for r in edges_left)
    assert any(r["src"] == "eB" and r["dst"] == "Hobby:Hiking" for r in edges_left)
    # orphaned provenance of Location:Paris gone, shared fact's source kept
    sources_left = {r["source_id"] for r in out["sources"].collect()}
    assert sources_left == {"urlS"}
    ids_left = {r["value"] for r in out["identifiers"].collect()}
    assert ids_left == {"b@x.com"}


def test_remove_fact_all_verbs_and_cascade(spark, fixture_tables):
    """Scenario 3 (test :758-816): removing a fact removes ALL verb edges;
    orphaned fact + source cascade."""
    out = remove_fact_from_entity(fixture_tables, "eA", "Location:Paris")
    hf = out["edges"].filter(
        (F.col("edge_type") == "HAS_FACT") & (F.col("dst") == "Location:Paris")
    )
    assert hf.count() == 0
    assert out["facts"].filter(F.col("fact_id") == "Location:Paris").count() == 0
    assert out["sources"].filter(F.col("source_id") == "urlP").count() == 0
    # shared fact untouched
    assert out["facts"].filter(F.col("fact_id") == "Hobby:Hiking").count() == 1


def test_remove_shared_fact_keeps_fact_for_other_entity(spark, fixture_tables):
    out = remove_fact_from_entity(fixture_tables, "eA", "Hobby:Hiking")
    assert out["facts"].filter(F.col("fact_id") == "Hobby:Hiking").count() == 1
    left = out["edges"].filter(
        (F.col("edge_type") == "HAS_FACT") & (F.col("dst") == "Hobby:Hiking")
    ).collect()
    assert {r["src"] for r in left} == {"eB"}


def test_remove_facts_batch_equals_sequential_and_is_lazy(spark, fixture_tables):
    """Batch H4: one removals frame == chained scalar calls (either
    order), and building the batch result runs ZERO Spark jobs — the
    job count of a GC sweep is independent of the number of removals."""
    from nous_spark.graph import remove_facts_from_entities

    pairs = [("eA", "Location:Paris"), ("eA", "Hobby:Hiking")]
    rm = spark.createDataFrame(pairs, "entity_id string, fact_id string")

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    batch = remove_facts_from_entities(fixture_tables, rm)
    assert set(tracker.getJobIdsForGroup(None)) == before  # fully lazy

    for order in (pairs, pairs[::-1]):
        seq = fixture_tables
        for e, f in order:
            seq = remove_fact_from_entity(seq, e, f)
        for t in ("edges", "facts", "sources"):
            key = [c for c in batch[t].columns]
            b = sorted(map(tuple, batch[t].select(*key).collect()))
            s = sorted(map(tuple, seq[t].select(*key).collect()))
            assert b == s, (t, b, s)
    # shared fact survives (eB still asserts it); private fact cascaded
    assert {r["fact_id"] for r in batch["facts"].collect()} == {"Hobby:Hiking"}
    assert {r["source_id"] for r in batch["sources"].collect()} == {"urlS"}


def test_expand_hops_min_depth_and_frontier(spark, fixture_tables):
    """1 hop from A reaches B (shared Hobby:Hiking); 0 hops is just A;
    depth is the minimum per entity."""
    from nous_spark.graph import expand_hops

    edges = fixture_tables["edges"]
    e0 = find_entity_by_identifier(edges, "email", "a@x.com")
    zero = {(r["entity_id"], r["depth"]) for r in expand_hops(edges, e0, hops=0).collect()}
    assert zero == {("eA", 0)}
    one = {(r["entity_id"], r["depth"]) for r in expand_hops(edges, e0, hops=1).collect()}
    assert one == {("eA", 0), ("eB", 1)}
    # idempotent at fixpoint: more hops add nothing new here
    two = {(r["entity_id"], r["depth"]) for r in expand_hops(edges, e0, hops=3).collect()}
    assert two == one


def test_primary_identifier_pick(spark, fixture_tables):
    """Scenario 4 (age_repository.py:380-414): primary wins over secondary."""
    got = {r["entity_id"]: r["identifier_key"] for r in primary_identifier(fixture_tables["edges"]).collect()}
    assert got["eA"] == "email:a@x.com"
    assert got["eB"] == "email:b@x.com"


def test_remove_facts_batch_edge_cases(spark, fixture_tables):
    """Empty removals -> tables unchanged; nonexistent pairs are no-ops."""
    from nous_spark.graph import remove_facts_from_entities

    empty = spark.createDataFrame([], "entity_id string, fact_id string")
    out = remove_facts_from_entities(fixture_tables, empty)
    assert out["edges"].count() == fixture_tables["edges"].count()
    assert out["facts"].count() == fixture_tables["facts"].count()
    assert out["sources"].count() == fixture_tables["sources"].count()

    bogus = spark.createDataFrame(
        [("eA", "Fact:DoesNotExist"), ("ghost", "Hobby:Hiking")],
        "entity_id string, fact_id string",
    )
    out2 = remove_facts_from_entities(fixture_tables, bogus)
    assert out2["edges"].count() == fixture_tables["edges"].count()
    assert out2["facts"].count() == fixture_tables["facts"].count()


# --------------------------------------------------------------------------
# HAS_FACT merge: Spark's partial aggregate is the hot-key handling
# --------------------------------------------------------------------------
LINKED_SCHEMA = (
    "entity_id string, pred string, fact_type string, fact_name string, "
    "fact_id string, confidence double, source_url string, warc_ts timestamp"
)
MENTIONS_SCHEMA = (
    "url string, mention_rank int, id_type string, id_value string, "
    "entity_id string, warc_ts timestamp"
)


@pytest.fixture(scope="module")
def hot_triples():
    """5,000 assertions of ONE (entity, fact, pred) with varied confidence
    and warc_ts, plus one entity fanning out to 500 distinct facts (each
    asserted twice)."""
    rows = [
        (
            "eHot", "lives_in", "Location", "Paris", "Location:Paris",
            ((i * 37) % 1000) / 1000, f"u{i % 50}",
            TS + dt.timedelta(seconds=(i * 7919) % 5000 + 1),
        )
        for i in range(5000)
    ]
    rows += [
        (
            "eWide", "likes", "Hobby", f"h{j}", f"Hobby:h{j}",
            ((j * k * 13) % 97) / 100, f"w{j}",
            TS + dt.timedelta(minutes=(j * 31 + k * 17) % 600),
        )
        for j in range(500)
        for k in (1, 2)
    ]
    return rows


def _has_fact(spark, rows):
    linked = spark.createDataFrame(rows, LINKED_SCHEMA).repartition(8)
    mentions = spark.createDataFrame(
        [("u0", 0, "email", "hot@x.com", "eHot", TS)], MENTIONS_SCHEMA
    )
    edges = build_fact_tables(linked, mentions)["edges"]
    return edges.filter(F.col("edge_type") == HAS_FACT)


def test_has_fact_merge_plan_is_one_exchange_with_partial_agg(spark, hot_triples):
    """The merge runs as partial max/min per map task, ONE hash exchange,
    then the final merge — no salt column, no second exchange."""
    hf = _has_fact(spark, hot_triples)
    hf.collect()
    plan = hf._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, plan
    assert final.count("Exchange hashpartitioning") == 1, plan
    assert "partial_max(confidence" in final, plan
    assert "partial_min(warc_ts" in final, plan
    assert "_salt" not in plan, plan


def test_has_fact_merge_hot_key_equals_python_fold(spark, hot_triples):
    want: dict[tuple, tuple] = {}
    for ent, pred, _, _, fid, conf, _, ts in hot_triples:
        c, t = want.get((ent, fid, pred), (conf, ts))
        want[(ent, fid, pred)] = (max(c, conf), min(t, ts))

    got = {
        (r["src"], r["dst"], r["pred"]): (r["confidence"], r["created_at"])
        for r in _has_fact(spark, hot_triples).collect()
    }
    assert len(want) == 501
    assert got == want
