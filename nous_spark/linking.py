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
     request carrying an identifier for content that names another),
     (b) an optional curated alias dictionary (broadcast-joined: it is
     small-dimension data), and (c) optional MinHash-LSH fuzzy aliases
     between near-identical values of one identifier type;
  3. **canonicalize**: connected components over the alias graph
     (nous_spark.cc) elect one canonical id per component; every mention
     is rewritten anchor -> canonical.

Scale notes: step 1 is a map; step 2(a) pairs each page's mentions
array map-side (no shuffle before the pair dedup), 2(c) runs on the
same minhash, banding and hot-bucket cap as document near-dup
(operators/dedup.py), JVM-only; step 3 is the CC of nous_spark.cc.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nous_spark.cc import connected_components
from nous_spark.normalize import ENTITY_NS, py_strip_col, uuid5_col
from nous_spark.operators.dedup import _band_buckets, _capped_bucket_pairs, minhash_sig_col


def with_anchor_id(mentions: DataFrame) -> DataFrame:
    """mentions(url, id_type, id_value) -> + entity_key, anchor_id."""
    return mentions.withColumn(
        "entity_key", F.concat_ws(":", "id_type", "id_value")
    ).withColumn("anchor_id", uuid5_col(ENTITY_NS, F.col("entity_key")))


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
    minted on the deduped pairs only. Tested equal to the exploded-table
    url self-join (tests/test_linking.py).
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
# 32 hashes in 16 bands of r=2: a pair at sim 0.5 shares a bucket with
# probability 1-(1-0.5^2)^16 >= 0.99, at sim 0.85 all but ~1e-9
_LSH_HASHES, _LSH_BANDS, _LSH_SEED = 32, 16, 42
_SHINGLE_K = 3
_LSH_MAX_BUCKET = 64
_LSH_TOP_M = 3


def _value_shingles(value: Column) -> Column:
    """Distinct char k-grams of '^' + lower(strip(value)) + '$' (NULL is
    ''), the blocking and scoring feature space. A string shorter than k
    is its own single shingle."""
    s = F.concat(
        F.lit("^"), F.lower(py_strip_col(F.coalesce(value, F.lit("")))), F.lit("$")
    )
    # bind the normalized string once (1-element array): a lambda body
    # is not CSE'd, so `s` inline would re-run the strip regex per gram
    return F.element_at(
        F.transform(
            F.array(s),
            lambda v: F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length(v) - (_SHINGLE_K - 1), F.lit(1))),
                    lambda i: v.substr(i, F.lit(_SHINGLE_K)),
                )
            ),
        ),
        1,
    )


def lsh_alias_candidates(mentions_with_anchor: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Near-identical identifier values -> similarity-scored alias edges.

    The scale path for alias discovery (north_star: "MinHash-LSH blocking
    and similarity-scored candidate ranking"), JVM-only and built from
    the document near-dup blocking in operators/dedup.py: instead of an
    all-pairs O(n^2) compare, (1) minhash each identifier's char
    shingles (``minhash_sig_col``), band the signatures and pair within
    (id_type, band, bucket) — only same-type identifiers hashing to a
    shared bucket ever meet; (2) score each candidate by the exact
    shingle Jaccard; (3) keep each identifier's top-``_LSH_TOP_M``
    candidates (sim desc, dst asc) with sim >= threshold as (src, dst,
    sim) alias edges feeding CC, src < dst.

    Two skew defenses, both load-bearing (measured: without them a corpus
    of templated identifiers — personaNNNN@example.com — makes the
    candidate join quadratic, ~10^8 pairs from 26k identifiers, and the
    stage never finishes):
      * the hot-bucket cap (``_capped_bucket_pairs``, shared by every
        blocking operator): a bucket holding more than ``_LSH_MAX_BUCKET``
        identifiers star-chains each member to the bucket's min id
        instead of self-joining, so the join is bounded by the cap;
        every candidate is scored exactly, so star pairs only add true
        pairs;
      * top-m ranking: a real identity has a handful of spelling
        variants; capping candidates per anchor stops one identifier
        from fanning into thousands of CC edges.
    """
    # persisted for the duration of this function only: banding (the
    # bucket-size scan and both self-join sides) and both scoring sides
    # read it; the eager localCheckpoint of the (small, top-m-capped)
    # result below lets us unpersist before returning, so repeated calls
    # in a long-lived session don't accumulate cached tables
    idents = (
        mentions_with_anchor.select("anchor_id", "id_type", "id_value")
        .dropDuplicates(["anchor_id"])
        .select("anchor_id", "id_type", _value_shingles(F.col("id_value")).alias("sh"))
        .withColumn("sig", minhash_sig_col(F.col("sh"), _LSH_HASHES, _LSH_SEED))
        .persist()
    )
    try:
        cands = _capped_bucket_pairs(
            _band_buckets(idents, "anchor_id", _LSH_BANDS, _LSH_HASHES, carry=("id_type",)),
            ["id_type", "band", "bucket"],
            "anchor_id",
            _LSH_MAX_BUCKET,
        )
        sa = idents.select(F.col("anchor_id").alias("id_a"), F.col("sh").alias("sh_a"))
        sb = idents.select(F.col("anchor_id").alias("id_b"), F.col("sh").alias("sh_b"))
        sim = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
        w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
        out = (
            cands.join(sa, "id_a")
            .join(sb, "id_b")
            .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"), sim.alias("sim"))
            .filter(F.col("sim") >= threshold)
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= _LSH_TOP_M)
            .drop("_rk")
        )
        return out.localCheckpoint(eager=True)
    finally:
        idents.unpersist()


def canonical_mapping(
    mentions_with_anchor: DataFrame,
    cooccur_edges: DataFrame,
    alias_dict: DataFrame | None = None,
    use_lsh: bool = False,
    lsh_threshold: float = 0.85,
) -> DataFrame:
    """Build the anchor_id -> canonical entity_id mapping.

    Alias evidence, unioned into one edge list for CC:
      * co-occurrence on a page (``cooccur_edges``, from
        ``cooccurrence_alias_edges_from_arrays(docs)``);
      * a curated alias dictionary (optional, small — broadcast);
      * MinHash-LSH near-identical identifier values (optional,
        ``use_lsh`` — the web-scale fuzzy-alias path).

    Returns (anchor_id, entity_id). Anchors in no alias component map to
    themselves — the mapping is TOTAL over observed anchors, so the
    downstream join is a plain inner equi-join.
    """
    edges = cooccur_edges
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
