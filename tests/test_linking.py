"""Entity-linking tests: anchor determinism, co-occurrence aliasing, and
the MinHash-LSH blocking + similarity-scored candidate ranking path
(north_star; the corpus-wide analog of the reference's find-or-create
resolution, usecases/assimilate_knowledge_usecase.py:66-95)."""

from __future__ import annotations

import random
from collections import Counter, defaultdict

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nous_spark.linking import (
    _LSH_HASHES,
    _LSH_MAX_BUCKET,
    _LSH_SEED,
    _LSH_TOP_M,
    _value_shingles,
    canonical_mapping,
    lsh_alias_candidates,
    with_anchor_id,
)
from nous_spark.normalize import entity_id_for
from nous_spark.operators.dedup import minhash_sig_col

MENTIONS_SCHEMA = "url string, mention_rank int, id_type string, id_value string"


def cooccurrence_alias_edges(mentions_with_anchor: DataFrame) -> DataFrame:
    """Reference co-occurrence alias edges from the EXPLODED mentions
    table: each page's subject (mention_rank 0) paired with every other
    mention of the page, by a url self-join; deduped (src, dst) anchors.
    The pipeline derives the same set map-side from the docs arrays."""
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


@pytest.fixture(scope="module")
def fuzzy_mentions(spark):
    """Three spellings of one identity (same type), plus an unrelated one
    and a same-value different-type pair (must NOT alias via LSH)."""
    rows = [
        ("u1", 0, "email", "jonathan.doe.1985@example.com"),
        ("u2", 0, "email", "jonathan.doe1985@example.com"),   # dot dropped
        ("u3", 0, "email", "jonathan.doe.1985@example.org"),  # tld variant
        ("u4", 0, "email", "completely.other@elsewhere.net"),
        ("u5", 0, "username", "jonathan.doe.1985@example.com"),  # other type
    ]
    return with_anchor_id(spark.createDataFrame(rows, MENTIONS_SCHEMA))


def test_anchor_id_matches_python_side(spark):
    m = with_anchor_id(
        spark.createDataFrame([("u", 0, "email", "a@x.com")], MENTIONS_SCHEMA)
    ).collect()[0]
    assert m["anchor_id"] == entity_id_for("email", "a@x.com")


def test_signatures_deterministic(fuzzy_mentions):
    sig_col = minhash_sig_col(_value_shingles(F.col("id_value")), _LSH_HASHES, _LSH_SEED)

    def sigs():
        rows = fuzzy_mentions.select("anchor_id", sig_col.alias("sig")).collect()
        return {r["anchor_id"]: r["sig"] for r in rows}

    s1, s2 = sigs(), sigs()
    assert s1 == s2
    assert all(len(sig) == 32 for sig in s1.values())


def test_lsh_candidates_rank_and_threshold(fuzzy_mentions):
    pairs = lsh_alias_candidates(fuzzy_mentions, threshold=0.6).collect()
    anchors = {
        v: entity_id_for("email", v)
        for v in (
            "jonathan.doe.1985@example.com",
            "jonathan.doe1985@example.com",
            "jonathan.doe.1985@example.org",
            "completely.other@elsewhere.net",
        )
    }
    got = {(r["src"], r["dst"]) for r in pairs}
    near = anchors["jonathan.doe.1985@example.com"], anchors["jonathan.doe1985@example.com"]
    assert tuple(sorted(near)) in got or tuple(sorted(near, reverse=True)) in got
    # unrelated identifier pairs with nobody
    other = anchors["completely.other@elsewhere.net"]
    assert all(other not in p for p in got)
    # similarity scores are real Jaccards in (0, 1]
    assert all(0.6 <= r["sim"] <= 1.0 for r in pairs)


def test_lsh_never_crosses_identifier_type(fuzzy_mentions):
    """Same value, different id_type: blocked join key includes id_type."""
    pairs = lsh_alias_candidates(fuzzy_mentions, threshold=0.1).collect()
    email_anchor = entity_id_for("email", "jonathan.doe.1985@example.com")
    user_anchor = entity_id_for("username", "jonathan.doe.1985@example.com")
    for r in pairs:
        assert {r["src"], r["dst"]} != {email_anchor, user_anchor}


def test_canonical_mapping_with_lsh_merges_variants(fuzzy_mentions):
    mapping = canonical_mapping(
        fuzzy_mentions, cooccurrence_alias_edges(fuzzy_mentions), use_lsh=True, lsh_threshold=0.6
    )
    m = {r["anchor_id"]: r["entity_id"] for r in mapping.collect()}
    a = entity_id_for("email", "jonathan.doe.1985@example.com")
    b = entity_id_for("email", "jonathan.doe1985@example.com")
    c = entity_id_for("email", "jonathan.doe.1985@example.org")
    d = entity_id_for("email", "completely.other@elsewhere.net")
    assert m[a] == m[b] == m[c]  # variants collapse to one canonical id
    assert m[d] == d  # singleton maps to itself (total mapping)
    # mapping is total over all observed anchors
    assert set(m) == {r["anchor_id"] for r in fuzzy_mentions.select("anchor_id").distinct().collect()}


def test_canonical_mapping_without_lsh_keeps_variants_separate(fuzzy_mentions):
    mapping = canonical_mapping(fuzzy_mentions, cooccurrence_alias_edges(fuzzy_mentions), use_lsh=False)
    m = {r["anchor_id"]: r["entity_id"] for r in mapping.collect()}
    a = entity_id_for("email", "jonathan.doe.1985@example.com")
    b = entity_id_for("email", "jonathan.doe1985@example.com")
    assert m[a] != m[b]


def test_lsh_templated_identifier_family_is_bounded(spark):
    """Measured failure mode: templated identifiers (personaNNNN@...) are
    all ~0.85-similar, so naive banding makes the candidate join
    quadratic and CC meaningless. Hot-bucket capping + top-m ranking must
    (a) keep the stage bounded, (b) NOT cross-link the whole family,
    while (c) still catching a genuine typo alias."""
    rows = [
        ("u%d" % i, 0, "email", f"persona{i:06d}@example.com") for i in range(400)
    ]
    # one genuine alias pair: same value with a character doubled
    rows += [
        ("ua", 0, "email", "jonathan.doe.1985@gmail.com"),
        ("ub", 0, "email", "jonathan.doe.19855@gmail.com"),
    ]
    m = with_anchor_id(spark.createDataFrame(rows, MENTIONS_SCHEMA))
    pairs = lsh_alias_candidates(m, threshold=0.8).collect()
    got = {(r["src"], r["dst"]) for r in pairs}
    a = entity_id_for("email", "jonathan.doe.1985@gmail.com")
    b = entity_id_for("email", "jonathan.doe.19855@gmail.com")
    assert tuple(sorted((a, b))) in got  # the true alias survives
    # the persona family does not explode: top-m caps fan-out per anchor
    assert len(pairs) <= 402 * 3
    from collections import Counter

    fan = Counter(r["src"] for r in pairs)
    assert max(fan.values()) <= 3


# strip/lower traps: Spark trim() and Python strip() disagree on NBSP and
# \x1c-\x1f; lower() maps İ to two code points, K (Kelvin) to k, Σ to
# σ or final ς, and leaves ſ and ß alone
TRAPS = ["\xa0", "\x1c", "İ", "ſ", "\u212a", "Σ", "ß"]
CONTRACT_BASES = {
    "email": [
        "jonathan.doe.1985@example.com",
        "maria.garcia.lopez@correo.es",
        "kelvin.strasse@mail.de",
        "odysseas.sigma@mail.gr",
        "istanbul.yildiz@posta.tr",
        "priya.natarajan@inbox.in",
        "sasha.kuznetsova@yandex.ru",
        "ole.kristiansen@post.no",
    ],
    "username": [
        "jonathan.doe.1985@example.com",  # same value, other type
        "kinsey_sisters_88",
        "the.real.kassandra",
        "istvan-kiss-1990",
        "sigmasigmaboy",
        "strassenbahn_fan",
        "kiki.delivery.service",
        "oskar.isaksson",
    ],
}


def _mutate(rng: random.Random, v: str) -> str:
    op = rng.randrange(6)
    i = rng.randrange(len(v))
    if op == 0:  # pad with characters Python's strip() removes
        return rng.choice(["\xa0", "\x1c", " \x1f"]) + v + rng.choice(["\xa0", "\x1c", ""])
    if op == 1:  # trap character inside the value
        return v[:i] + rng.choice(TRAPS) + v[i:]
    if op == 2:  # case-folding swaps
        return v.replace("s", "ſ", 1).replace("k", "\u212a").replace("ss", "ß").upper()
    if op == 3:
        return v.replace("i", "İ", 1).replace("s", "Σ", 2)
    if op == 4:  # typo: doubled character
        return v[:i] + v[i] + v[i:]
    return v[:i] + v[i + 1 :]  # typo: dropped character


def _ref_shingles(v: str | None) -> set[str]:
    s = f"^{(v or '').strip().lower()}$"
    return {s[i : i + 3] for i in range(max(len(s) - 2, 1))}


@pytest.fixture(scope="module")
def contract_mentions(spark):
    """Near-variant identifiers in two id_types (seeded), with NULL and
    '' values, few enough per type that no LSH bucket exceeds the cap.
    Returns (mentions, {anchor_id: (id_type, id_value)})."""
    rng = random.Random(20261017)
    rows = []
    for id_type, bases in CONTRACT_BASES.items():
        values = {v for b in bases for v in [b] + [_mutate(rng, _mutate(rng, b)) for _ in range(6)]}
        rows += [(id_type, v) for v in sorted(values)]
    rows += [("email", None), ("email", ""), ("username", "\xa0")]
    mentions = with_anchor_id(
        spark.createDataFrame(
            [(f"u{n}", 0, t, v) for n, (t, v) in enumerate(rows)], MENTIONS_SCHEMA
        )
    )
    idents = {
        r["anchor_id"]: (r["id_type"], r["id_value"])
        for r in mentions.select("anchor_id", "id_type", "id_value").collect()
    }
    assert max(Counter(t for t, _ in idents.values()).values()) <= _LSH_MAX_BUCKET
    return mentions, idents


def _brute_force_top_m(idents: dict, threshold: float) -> set[tuple[str, str, float]]:
    by_type = defaultdict(list)
    for anchor, (id_type, value) in idents.items():
        by_type[id_type].append((anchor, _ref_shingles(value)))
    ranked = defaultdict(list)
    for members in by_type.values():
        for a, sa in members:
            for b, sb in members:
                sim = len(sa & sb) / len(sa | sb)
                if a < b and sim >= threshold:
                    ranked[a].append((-sim, b))
    return {(a, b, -neg) for a, c in ranked.items() for neg, b in sorted(c)[:_LSH_TOP_M]}


@pytest.mark.parametrize("threshold", [0.7, 0.85])
def test_lsh_output_contract_equals_brute_force(contract_mentions, threshold):
    """Outputs, not signatures: every edge is same-type, src < dst, its
    sim is the exact Jaccard of the Python-normalized char 3-grams and
    clears the threshold, each src has at most top-m edges, and with no
    bucket over the cap the edge set IS the brute-force all-pairs top-m."""
    mentions, idents = contract_mentions
    got = {
        (r["src"], r["dst"], r["sim"])
        for r in lsh_alias_candidates(mentions, threshold=threshold).collect()
    }
    for src, dst, sim in got:
        assert idents[src][0] == idents[dst][0] and src < dst
        sa, sb = _ref_shingles(idents[src][1]), _ref_shingles(idents[dst][1])
        assert sim == len(sa & sb) / len(sa | sb) >= threshold
    assert max(Counter(src for src, _, _ in got).values()) <= _LSH_TOP_M
    ref = _brute_force_top_m(idents, threshold)
    assert len(ref) >= 10
    assert any(c in (idents[src][1] or "") for src, _, _ in ref for c in TRAPS)
    assert got == ref


def test_cooccurrence_array_form_equals_exploded_form(spark):
    """The shuffle-free array derivation emits the exact same alias edge
    set as the exploded-table url self-join (the pipeline uses the array
    form; the contract is identity)."""
    from nous_spark.datagen import generate_pages
    from nous_spark.linking import cooccurrence_alias_edges_from_arrays
    from nous_spark.pipeline import stage_extract, stage_mentions

    docs = stage_extract(generate_pages(spark, 300, seed=42)).persist()
    try:
        mentions = stage_mentions(docs)
        old = {(r["src"], r["dst"]) for r in cooccurrence_alias_edges(mentions).collect()}
        new = {
            (r["src"], r["dst"])
            for r in cooccurrence_alias_edges_from_arrays(docs).collect()
        }
        assert old == new and len(old) > 0
    finally:
        docs.unpersist()
