"""Entity linking: identifier mentions -> stable canonical entity ids.

The reference resolves one identifier per request with a find-or-create
round trip (usecases/assimilate_knowledge_usecase.py:66-95 +
age_repository.py:101-123). Corpus-wide, that serial protocol is
replaced by three embarrassingly-parallel / bulk steps:

  1. **anchor**: every (id_type, id_value) deterministically maps to an
     anchor entity id (uuid5) — no coordination, idempotent across runs
     (same observable contract as the reference's idempotent create);
  2. **alias edges**: pairs of identifiers asserted to be the same
     entity — (a) co-occurrence on one page (the batch analog of one
     request carrying an identifier for content that names another), and
     (b) an optional curated alias dictionary (broadcast-joined: it is
     small-dimension data);
  3. **canonicalize**: connected components over the alias graph
     (nous_spark.cc) elect one canonical id per component; every mention
     is rewritten anchor -> canonical.

Scale notes: step 1 is a map; step 2's self-join is per-page (bounded
fan-out); step 3 is the iterative CC with per-iteration checkpointing.
No step collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nous_spark.cc import connected_components
from nous_spark.normalize import ENTITY_NS, uuid5_col


def with_anchor_id(mentions: DataFrame) -> DataFrame:
    """mentions(url, id_type, id_value) -> + entity_key, anchor_id."""
    return mentions.withColumn(
        "entity_key", F.concat_ws(":", "id_type", "id_value")
    ).withColumn("anchor_id", uuid5_col(ENTITY_NS, F.col("entity_key")))


def cooccurrence_alias_edges(mentions_with_anchor: DataFrame) -> DataFrame:
    """Alias edges from identifiers co-occurring on the same page.

    The subject (first mention) is paired with every other mention of the
    page. Pages with a single mention emit nothing. Returns (src, dst)
    anchor-id pairs, deduped.

    This form takes the EXPLODED mentions table and must re-group by url
    (a full-table shuffle join). When the array-form docs table is at
    hand, prefer ``cooccurrence_alias_edges_from_arrays`` — identical
    output, zero shuffle before the final pair dedup.
    """
    first = mentions_with_anchor.filter(F.col("mention_rank") == 0).select(
        "url", F.col("anchor_id").alias("src")
    )
    rest = mentions_with_anchor.filter(F.col("mention_rank") > 0).select(
        "url", F.col("anchor_id").alias("dst")
    )
    return (
        first.join(rest, "url")
        .select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def cooccurrence_alias_edges_from_arrays(docs: DataFrame) -> DataFrame:
    """Same alias evidence, derived MAP-SIDE from the per-page mentions
    array (docs.mentions: array<struct<id_type,id_value>>).

    A page is already the grouping unit of its own mention list, so
    pairing the subject (element 1) with every other mention needs no
    shuffle at all — the exploded-table twin re-joins the whole mentions
    table on url, which at web scale shuffles the full corpus twice to
    recover information the array row already held. The only shuffle
    here is the final distinct over emitted key pairs (bounded by the
    number of alias assertions, not corpus size); the uuid5 anchors are
    minted on the deduped pairs only. Output contract identical to
    ``cooccurrence_alias_edges`` (tested equal).
    """
    keys = F.transform(
        "mentions", lambda m: F.concat_ws(":", m["id_type"], m["id_value"])
    )
    pair_structs = F.transform(
        F.slice(keys, 2, F.greatest(F.size("mentions") - 1, F.lit(0))),
        lambda k: F.struct(
            F.element_at(keys, 1).alias("src_key"), k.alias("dst_key")
        ),
    )
    pairs = (
        docs.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.src_key").alias("src_key"), F.col("p.dst_key").alias("dst_key"))
        .filter(F.col("src_key") != F.col("dst_key"))
        .dropDuplicates(["src_key", "dst_key"])
    )
    # no second dedup after minting: uuid5 is a pure function of the key,
    # so distinct key pairs are already distinct anchor pairs
    return pairs.select(
        uuid5_col(ENTITY_NS, F.col("src_key")).alias("src"),
        uuid5_col(ENTITY_NS, F.col("dst_key")).alias("dst"),
    )


# ---------------------------------------------------------------------------
# MinHash-LSH blocking + similarity-scored candidate ranking (north_star)
# ---------------------------------------------------------------------------
def _char_shingles(value: str, k: int = 3) -> set[str]:
    """Char k-grams of '^value$' (lowered) — the blocking feature space."""
    s = f"^{value.strip().lower()}$"
    if len(s) <= k:
        return {s}
    return {s[i : i + k] for i in range(len(s) - k + 1)}


def identifier_signatures(
    identifiers: DataFrame,
    n_hashes: int = 32,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(anchor_id, id_type, id_value, sig array<long>) — numpy minhash over
    char shingles, one Arrow batch at a time. Fixed seed => deterministic
    across runs and parallelism levels (resumability contract)."""
    import zlib

    import numpy as np

    mersenne = (1 << 61) - 1
    rng = np.random.RandomState(seed)
    a = rng.randint(1, mersenne, size=n_hashes, dtype=np.int64)
    b = rng.randint(0, mersenne, size=n_hashes, dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            sigs = []
            for v in pdf["id_value"]:
                sh = np.fromiter(
                    (zlib.crc32(g.encode("utf-8")) for g in _char_shingles(v or "", shingle_k)),
                    dtype=np.int64,
                )
                vals = (a[:, None] * sh[None, :] + b[:, None]) % mersenne
                sigs.append(vals.min(axis=1).tolist())
            out = pdf[["anchor_id", "id_type", "id_value"]].copy()
            out["sig"] = sigs
            yield out

    return identifiers.select("anchor_id", "id_type", "id_value").mapInPandas(
        gen, "anchor_id string, id_type string, id_value string, sig array<long>"
    )


def lsh_alias_candidates(
    mentions_with_anchor: DataFrame,
    threshold: float = 0.7,
    n_hashes: int = 32,
    n_bands: int = 16,  # r=2: blocking recall >=0.99 for sim>=0.5
    shingle_k: int = 3,
    seed: int = 42,
    max_bucket: int = 64,
    top_m: int = 3,
) -> DataFrame:
    """Near-identical identifier values -> similarity-scored alias edges.

    The scale path for alias discovery (north_star: "MinHash-LSH blocking
    and similarity-scored candidate ranking"): instead of an all-pairs
    O(n^2) compare over 10^9 identifiers, (1) band the minhash signatures
    and equi-join on (id_type, band, bucket) — only same-type identifiers
    hashing to a shared bucket ever meet; (2) rank candidates by exact
    char-shingle Jaccard (computed from the pair's values, Arrow-batched);
    (3) keep each identifier's top-``top_m`` candidates with sim >=
    threshold as (src, dst, sim) alias edges feeding CC.

    Two skew defenses, both load-bearing (measured: without them a corpus
    of templated identifiers — personaNNNN@example.com — makes the
    candidate join quadratic, ~10^8 pairs from 26k identifiers, and the
    stage never finishes):
      * ``max_bucket``: buckets holding more than this many identifiers
        are DROPPED before the self-join. A huge bucket is a shared
        template/domain pattern, not alias evidence — and any true alias
        pair also collides in some small bucket with probability
        1-(1-s^r)^(b-hot) (near 1 for high sim). Bounds the join at
        max_bucket^2 per bucket.
      * ``top_m`` ranking: a real identity has a handful of spelling
        variants; capping candidates per anchor stops one identifier
        from fanning into thousands of CC edges.
    """
    uniq = mentions_with_anchor.select(
        "anchor_id", "id_type", "id_value"
    ).dropDuplicates(["anchor_id"])
    sigs = identifier_signatures(uniq, n_hashes, shingle_k, seed)
    r = n_hashes // n_bands

    # persisted for the duration of this function only: the bucket-size
    # scan and both self-join sides read it; the eager localCheckpoint of
    # the (small, top-m-capped) result below lets us unpersist before
    # returning, so repeated operator calls in a long-lived session don't
    # accumulate cached band tables in executor storage.
    bands = sigs.select(
        "anchor_id",
        "id_type",
        "id_value",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda i: F.xxhash64(F.slice("sig", i * r + 1, r).cast("string")),
            )
        ).alias("band", "bucket"),
    ).persist()
    small_buckets = (
        bands.groupBy("id_type", "band", "bucket")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= max_bucket)
        .drop("_n")
    )
    bands_ok = bands.join(small_buckets, ["id_type", "band", "bucket"], "left_semi")
    a_side, b_side = bands_ok.alias("a"), bands_ok.alias("b")
    cands = (
        a_side.join(
            b_side,
            (F.col("a.id_type") == F.col("b.id_type"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.anchor_id") < F.col("b.anchor_id")),
        )
        .select(
            F.col("a.anchor_id").alias("src"),
            F.col("a.id_value").alias("value_a"),
            F.col("b.anchor_id").alias("dst"),
            F.col("b.id_value").alias("value_b"),
        )
        .dropDuplicates(["src", "dst"])
    )

    def score(batches):
        for pdf in batches:
            sims = []
            for va, vb in zip(pdf["value_a"], pdf["value_b"]):
                sa, sb = _char_shingles(va or "", shingle_k), _char_shingles(vb or "", shingle_k)
                inter = len(sa & sb)
                sims.append(inter / (len(sa) + len(sb) - inter) if inter else 0.0)
            out = pdf[["src", "dst"]].copy()
            out["sim"] = sims
            yield out

    scored = cands.mapInPandas(score, "src string, dst string, sim double").filter(
        F.col("sim") >= threshold
    )
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    out = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= top_m)
        .drop("_rk")
    )
    try:
        return out.localCheckpoint(eager=True)
    finally:
        bands.unpersist()


def canonical_mapping(
    mentions_with_anchor: DataFrame,
    alias_dict: DataFrame | None = None,
    use_lsh: bool = False,
    lsh_threshold: float = 0.85,
    cooccur_edges: DataFrame | None = None,
) -> DataFrame:
    """Build the anchor_id -> canonical entity_id mapping.

    Alias evidence, unioned into one edge list for CC:
      * co-occurrence on a page (always; pass ``cooccur_edges`` from
        ``cooccurrence_alias_edges_from_arrays(docs)`` to use the
        shuffle-free array derivation — the pipeline does);
      * a curated alias dictionary (optional, small — broadcast);
      * MinHash-LSH near-identical identifier values (optional,
        ``use_lsh`` — the web-scale fuzzy-alias path).

    Returns (anchor_id, entity_id). Anchors in no alias component map to
    themselves — the mapping is TOTAL over observed anchors, so the
    downstream join is a plain inner equi-join.
    """
    edges = (
        cooccur_edges
        if cooccur_edges is not None
        else cooccurrence_alias_edges(mentions_with_anchor)
    )
    if alias_dict is not None:
        pairs = alias_dict.select(
            uuid5_col(ENTITY_NS, F.col("entity_key_a")).alias("src"),
            uuid5_col(ENTITY_NS, F.col("entity_key_b")).alias("dst"),
        )
        edges = edges.unionByName(pairs).dropDuplicates(["src", "dst"])
    if use_lsh:
        fuzzy = lsh_alias_candidates(
            mentions_with_anchor, threshold=lsh_threshold
        ).select("src", "dst")
        edges = edges.unionByName(fuzzy).dropDuplicates(["src", "dst"])

    comp = connected_components(edges)  # (id, component) — component = min id
    # entity_key rides along (1:1 with anchor_id by uuid5 construction):
    # downstream joins can then equi-join on the PLAIN key instead of
    # re-minting uuid5 anchors per triple (pipeline.stage_link does).
    anchors = mentions_with_anchor.select("anchor_id", "entity_key").dropDuplicates(
        ["anchor_id"]
    )
    return (
        anchors.join(comp, anchors.anchor_id == comp.id, "left")
        .select(
            "anchor_id",
            "entity_key",
            F.coalesce(comp.component, anchors.anchor_id).alias("entity_id"),
        )
    )
