"""Connected-components (large-star/small-star) correctness."""

from __future__ import annotations

from nous_spark.cc import connected_components


def _components(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = connected_components(df, **kw).collect()
    return {r["id"]: r["component"] for r in rows}


def test_two_components(spark):
    comp = _components(spark, [("b", "a"), ("c", "b"), ("e", "d")])
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == "d"


def test_chain_and_star(spark):
    # long chain — stresses iteration count
    chain = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(40)]
    comp = _components(spark, chain)
    assert set(comp.values()) == {"n000"}
    assert len(comp) == 41


def test_cycle(spark):
    comp = _components(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert set(comp.values()) == {"a"}


def test_self_loops_and_duplicates(spark):
    comp = _components(spark, [("a", "a"), ("a", "b"), ("b", "a"), ("a", "b")])
    assert comp["a"] == comp["b"] == "a"


def test_empty(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert connected_components(df).count() == 0


def test_deterministic_representative(spark):
    # representative is the lexicographic minimum — stable across runs
    comp1 = _components(spark, [("z", "m"), ("m", "q"), ("q", "b")])
    comp2 = _components(spark, [("b", "q"), ("q", "m"), ("m", "z")])
    assert comp1 == comp2
    assert set(comp1.values()) == {"b"}


def test_driver_and_distributed_paths_agree(spark):
    """The size-adaptive shortcut must be observationally identical to
    the large-star/small-star loop on the same graph."""
    import random

    rng = random.Random(13)
    nodes = [f"v{i:03d}" for i in range(120)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    fast = _components(spark, edges)  # driver union-find (under threshold)
    slow = _components(spark, edges, driver_threshold=0)  # forced distributed
    assert fast == slow


def test_driver_path_result_is_a_local_relation(spark):
    """The driver path's result is an Arrow-built LocalRelation, not a
    pickled RDD that each consumer re-reads through a Python job."""
    for edges in ([("b", "a"), ("c", "b")], []):
        df = spark.createDataFrame(edges, "src string, dst string")
        plan = connected_components(df)._jdf.queryExecution().analyzed().toString()
        assert plan.startswith("LocalRelation"), plan
