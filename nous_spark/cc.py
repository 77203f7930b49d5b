"""Connected components over a DataFrame edge list.

Implements the alternating **large-star / small-star** algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14
— see PAPERS.md) entirely with DataFrame joins + aggregations, so
Catalyst/AQE handle the physical plan. Used for entity canonicalization
(SURVEY.md §4 custom item 1).

Semantics: returns (id, component) where component is the MINIMUM id in
each connected component — a deterministic canonical representative.

Scale design:
  * alias graphs under a row/byte bound are solved by driver-side
    union-find instead, and come back as an Arrow-built ``LocalRelation``
    (no pickled RDD, so no Python job downstream);
  * every iteration is two shuffles (groupBy on each endpoint); AQE skew
    handling splits hot components;
  * lineage is cut with ``localCheckpoint`` per iteration so the plan
    doesn't grow exponentially (on a cluster this would be
    ``checkpoint()`` to reliable storage / an Iceberg stage table);
  * convergence is detected by an edge-count fixpoint; iterations are
    capped (component diameter shrinks doubly-exponentially, so ~log log n
    + margin covers web-scale graphs; the cap is a guardrail, and hitting
    it raises rather than silently returning partial components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u, connect every strictly-larger neighbor to
    min(neighborhood ∪ {u}). Neighborhoods are undirected — symmetrize
    first (the iterated edge list is kept directed between rounds)."""
    edges = _symmetrize(edges)
    with_min = edges.groupBy("src").agg(F.min("dst").alias("mn"))
    j = edges.join(with_min, "src")
    return (
        j.select(
            F.col("dst").alias("src"),
            F.least(F.col("mn"), F.col("src")).alias("dst"),
        )
        .filter(F.col("src") > F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u, connect every smaller-or-equal neighbor to the
    minimum of them."""
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    with_min = e.groupBy("src").agg(F.min("dst").alias("mn"))
    j = e.join(with_min, "src")
    out_nbr = j.select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
    out_self = j.select(F.col("src"), F.col("mn").alias("dst"))
    return (
        out_nbr.unionByName(out_self)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _union_find_local(pairs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Driver-side union-find with min-id representatives — exact same
    output contract as the distributed path."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-id wins as the root -> component = min id, deterministic
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(x, find(x)) for x in parent]


def _local_frame(spark: SparkSession, mapping: list[tuple[str, str]]) -> DataFrame:
    """(id, component) rows held on the driver -> a ``LocalRelation``.

    Built from an Arrow table: ``createDataFrame(list)`` would pickle the
    rows into an RDD that every consumer re-reads through a Python job."""
    import pyarrow as pa

    ids, comps = zip(*mapping) if mapping else ((), ())
    table = pa.table({"id": pa.array(ids, pa.string()), "component": pa.array(comps, pa.string())})
    return spark.createDataFrame(table, "id string, component string")


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    checkpoint: bool = True,
    driver_threshold: int = 2_000_000,
    driver_max_bytes: int | None = None,
) -> DataFrame:
    """edges(src, dst) -> (id, component=min id of the component).

    Nodes that appear only in self-loops (or not at all) are absent from
    the output — callers treat missing as singleton (see
    linking.canonical_mapping's coalesce).

    Size-adaptive strategy (the CC analog of broadcast-join selection):
    below ``driver_threshold`` edges the alias graph is collected and
    solved with driver-side union-find — one job instead of ~4 jobs x
    ~8 iterations of shuffle scheduling, a ~10x fixed-cost cut measured
    at local scale. Above it, the large-star/small-star loop runs fully
    distributed. Both paths produce identical (id, min-id) output; tests
    assert the agreement. The driver path's result is a ``LocalRelation``
    (built through Arrow), so joining it starts no Python job.

    The driver shortcut is gated in BYTES, not just edge count: the
    union-find builds ~2 Python strings + a tuple + ~2 dict entries per
    edge, so a near-threshold graph of wide ids can be multiple GB of
    driver heap. Estimated bytes = n_edges * (2*avg_width + 400) must
    stay under ``driver_max_bytes`` (default ``NOUS_CC_DRIVER_MAX_BYTES``
    or 2 GiB) or the distributed path runs instead. The row bound and
    the strategy decision share ONE limit(threshold+1) collect job —
    no separate count/stats job (serial job count is the pipeline's
    non-scaling term at small corpus sizes).
    """
    if driver_max_bytes is None:
        import os

        driver_max_bytes = int(
            os.environ.get("NOUS_CC_DRIVER_MAX_BYTES", str(2 * 1024**3))
        )
    spark = edges.sparkSession
    if driver_threshold:
        # ONE job decides the strategy AND feeds the driver path —
        # straight off the RAW edge list: union-find is inherently
        # undirected and dedup-tolerant, so the symmetrize/distinct
        # shuffles the distributed loop needs are skipped entirely here.
        # limit(threshold+1) bounds the collected rows; the byte guard is
        # applied to the rows just collected (the dict-building phase of
        # union-find, ~2 entries + 2 strings per edge, is the real heap
        # cost and is still ahead at this point).
        head = (
            edges.filter(F.col("src") != F.col("dst"))
            .limit(driver_threshold + 1)
            .collect()
        )
        if not head:
            return _local_frame(spark, [])
        if len(head) <= driver_threshold:
            sample = head[: 20_000]
            avg_w = sum(len(r[0]) + len(r[1]) for r in sample) / len(sample)
            est_driver_bytes = int(len(head) * (2 * avg_w + 400))
            if est_driver_bytes <= driver_max_bytes:
                pairs = [(r[0], r[1]) for r in head]
                return _local_frame(spark, _union_find_local(pairs))
        del head  # too big for the driver — fall through to distributed

    # persist: the symmetrized alias-edge plan (upstream: co-occurrence
    # derivation, optional LSH scoring UDFs) is consumed by every loop
    # iteration's first action — without this each action recomputes the
    # whole linking lineage
    e = _symmetrize(edges).persist()
    if not driver_threshold and e.isEmpty():
        e.unpersist()
        return _local_frame(spark, [])

    e0 = e  # unpersist the input cache once the loop owns checkpointed copies
    prev_sig = None
    for _ in range(max_iter):
        e = _large_star(e)
        e = _small_star(e)
        if checkpoint:
            e = e.localCheckpoint(eager=True)
        # fixpoint signature: (#edges, xor of hashes) — cheap, deterministic,
        # overflow-free under ANSI mode
        sig = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        e0.unpersist()
        raise RuntimeError(f"connected_components: no convergence in {max_iter} iterations")
    e0.unpersist()

    # After convergence every edge is (node, component_min).
    comp = e.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("id"), F.col("dst").alias("component"))
    return comp.unionByName(roots).groupBy("id").agg(F.min("component").alias("component"))
