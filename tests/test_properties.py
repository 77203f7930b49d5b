"""Property-based hardening (hypothesis) of the invariants the engine's
correctness rests on:

  * extract_text_str is idempotent and whitespace-canonical (html.py's
    stated property — what guarantees byte-identity per url);
  * the Python and Column forms of every normalization rule agree
    (normalize.py is the single identity definition for triples);
  * extraction is a pure function (same text -> same triples);
  * driver union-find CC and the distributed large-star/small-star CC
    agree on arbitrary random graphs (cc.py's shortcut contract);
  * embeddings are unit-norm and text-determined.
"""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from nous_spark.extraction.html import extract_text_str
from nous_spark.extraction.triples import extract_triples_text
from nous_spark.normalize import fact_id, norm_name, norm_verb
from nous_spark.semantic import embed_text

TEXTISH = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)


@given(TEXTISH)
@settings(max_examples=200, deadline=None)
def test_extract_text_idempotent(s):
    once = extract_text_str(s)
    assert extract_text_str(once) == once


@given(st.binary(max_size=400))
@settings(max_examples=100, deadline=None)
def test_extract_text_total_on_bytes(b):
    out = extract_text_str(b)  # must never throw (errors='replace')
    assert isinstance(out, str)
    for line in out.split("\n"):
        assert line == line.strip() and "  " not in line


@given(TEXTISH)
@settings(max_examples=100, deadline=None)
def test_extraction_pure_and_normalized(s):
    a = extract_triples_text(s)
    assert a == extract_triples_text(s)
    for pred, ftype, name, conf in a:
        assert pred == norm_verb(pred)  # already lower+stripped
        assert name == norm_name(name) and name
        assert ftype and ftype == ftype.strip()
        assert 0.0 <= conf <= 1.0
    # within-document triple dedup
    keys = [t[:3] for t in a]
    assert len(keys) == len(set(keys))


@given(st.text(max_size=50), st.text(max_size=50))
@settings(max_examples=100, deadline=None)
def test_fact_id_is_injective_modulo_colon(t, n):
    fid = fact_id(t, n)
    assert fid == f"{t}:{n}"
    head, _, tail = fid.partition(":")
    if ":" not in t:
        assert head == t and tail == n


@given(st.text(max_size=120))
@settings(max_examples=100, deadline=None)
def test_embedding_unit_norm_or_zero(s):
    v = embed_text(s, dim=64)
    n = float(np.linalg.norm(v))
    assert abs(n - 1.0) < 1e-4 or n == 0.0
    assert np.array_equal(v, embed_text(s, dim=64))


# ---------------------------------------------------------------- spark-side
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cc_paths_agree_on_random_graphs(spark, pairs):
    from nous_spark.cc import connected_components

    edges = spark.createDataFrame(
        [(f"n{a:02d}", f"n{b:02d}") for a, b in pairs], "src string, dst string"
    )
    fast = {
        r["id"]: r["component"] for r in connected_components(edges).collect()
    }
    slow = {
        r["id"]: r["component"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert fast == slow


@given(st.lists(st.text(max_size=30), min_size=1, max_size=20))
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_normalize_python_column_agreement(spark, values):
    """trim/lower rules: pandas-free Column path == pure-Python path."""
    from pyspark.sql import functions as F

    from nous_spark.normalize import norm_name_col, norm_verb_col

    df = spark.createDataFrame([(v,) for v in values], "s string")
    got = df.select(
        norm_name_col(F.col("s")).alias("n"), norm_verb_col(F.col("s")).alias("v")
    ).collect()
    for row, v in zip(got, values):
        assert row["n"] == v.strip()
        assert row["v"] == v.strip().lower()


# the separator, NUL, Python-only whitespace (\x1c-\x1f, NBSP, U+3000),
# case-folding traps and astral characters, mixed into arbitrary text
UUID_KEYS = st.text(
    alphabet=st.one_of(
        st.sampled_from(
            [":", "\x00", "\x1c", "\x1d", "\x1e", "\x1f", "\xa0", "　",
             "İ", "ſ", "ı", "K", "😀", "\U0001d518", "\U0010fffd"]
        ),
        st.characters(blacklist_categories=("Cs",)),
    ),
    max_size=40,
)


@given(st.lists(UUID_KEYS, min_size=1, max_size=40))
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_uuid5_column_matches_stdlib(spark, keys):
    """The JVM uuid5 mints the ids the stdlib does, in both namespaces
    (entity anchors and vector point ids)."""
    import uuid

    from pyspark.sql import functions as F

    from nous_spark.normalize import ENTITY_NS, POINT_NS, uuid5_col

    keys = ["", ":"] + keys
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = df.select(
        uuid5_col(ENTITY_NS, F.col("k")).alias("e"), uuid5_col(POINT_NS, F.col("k")).alias("p")
    ).collect()
    for row, k in zip(got, keys):
        assert row["e"] == str(uuid.uuid5(ENTITY_NS, k)), k
        assert row["p"] == str(uuid.uuid5(POINT_NS, k)), k


# ------------------------------------------------------- codec round trips
@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_bmp_ppm_round_trip_any_shape(w, h, seed):
    """encode->decode identity for arbitrary (w, h) — exercises every
    BMP row-padding case (stride = 4-byte aligned) and PPM header."""
    from nous_spark.operators.multimodal import (
        _encode_bmp,
        _encode_ppm,
        decode_image,
    )

    px = np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(_encode_bmp(px)), px)
    assert np.array_equal(decode_image(_encode_ppm(px)), px)


@given(
    st.integers(min_value=0, max_value=2000),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_wav_round_trip_within_quantization(n, seed):
    from nous_spark.operators.multimodal import _encode_wav, decode_audio

    sig = (
        np.random.RandomState(seed).uniform(-0.999, 0.999, n).astype(np.float32)
    )
    got, rate = decode_audio(_encode_wav(sig, 16000))
    assert rate == 16000 and len(got) == n
    if n:
        assert np.abs(got - sig).max() <= 1.0 / 32768 + 1e-7


@given(
    st.lists(
        st.lists(st.text(alphabet="ab1 ", max_size=6), max_size=4),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dedup_lines_matches_python_reference(spark, corpora):
    """dedup_lines_corpus == a pure-Python reference on arbitrary small
    corpora over an alphabet with digits and spaces at line edges — the
    input class that exposed the transform(F.trim) index-as-trimStr bug
    (Spark trim strips ONLY 0x20, mirrored by .strip(' ') here)."""
    from nous_spark.operators.dedup import dedup_lines_corpus

    docs = [(i, "\n".join(lines)) for i, lines in enumerate(corpora)]
    per_doc = {
        i: [ln.strip(" ") for ln in t.split("\n") if ln.strip(" ") != ""]
        for i, t in docs
    }
    df: dict[str, set] = {}
    for i, lns in per_doc.items():
        for ln in set(lns):
            df.setdefault(ln, set()).add(i)
    first = {ln: min(ids) for ln, ids in df.items()}
    want = {}
    for i, lns in per_doc.items():
        kept = [ln for ln in lns if len(df[ln]) < 2 or i == first[ln]]
        want[i] = (len(kept), len(lns) - len(kept), "\n".join(kept))

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_kept"], r["n_dropped"], r["text_clean"])
        for r in dedup_lines_corpus(sdf, min_df=2).collect()
    }
    assert got == want


@given(
    st.lists(st.text(alphabet="ab \n", max_size=24), min_size=1, max_size=6)
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dedup_paragraphs_matches_python_reference(spark, texts):
    """granularity='paragraph' == a pure-Python reference on raw text
    over an alphabet of letters, spaces and newlines — edge blank lines,
    \\n runs and whitespace-only paragraphs included. Mirrors Spark
    split('\\n\\s*\\n') + btrim(' \\t\\r\\n') exactly."""
    import re

    from nous_spark.operators.dedup import dedup_lines_corpus

    docs = list(enumerate(texts))
    per_doc = {
        i: [
            p.strip(" \t\r\n")
            for p in re.split(r"\n\s*\n", t)
            if p.strip(" \t\r\n") != ""
        ]
        for i, t in docs
    }
    df: dict[str, set] = {}
    for i, ps in per_doc.items():
        for p in set(ps):
            df.setdefault(p, set()).add(i)
    first = {p: min(ids) for p, ids in df.items()}
    want = {}
    for i, ps in per_doc.items():
        kept = [p for p in ps if len(df[p]) < 2 or i == first[p]]
        want[i] = (len(kept), len(ps) - len(kept), "\n\n".join(kept))

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_kept"], r["n_dropped"], r["text_clean"])
        for r in dedup_lines_corpus(sdf, min_df=2, granularity="paragraph").collect()
    }
    assert got == want


def _py_substring_dedup(docs, k, keep_first=True, within_doc=False):
    """Pure-Python reference for dedup.substring_dedup: the same
    gram-coverage rule, O(n²)-naive on purpose. Space-only whitespace
    inputs keep Python split == Spark \\s+ split semantics."""
    toks = {}
    for d, t in docs:
        tt = t.strip(" ")
        toks[d] = [w for w in tt.split(" ") if w] if tt else []
    occs: dict[tuple, list] = {}
    for d in sorted(toks):
        w = toks[d]
        for i in range(len(w) - k + 1):
            occs.setdefault(tuple(w[i : i + k]), []).append((d, i))
    covered: dict[int, set] = {d: set() for d in toks}
    for occ in occs.values():
        ds = {d for d, _ in occ}
        fd = min(ds)
        minpos: dict[int, int] = {}
        for d, p in occ:
            minpos[d] = min(minpos.get(d, p), p)
        for d, p in occ:
            dup = len(ds) >= 2 and (not keep_first or d > fd)
            if within_doc and p > minpos[d]:
                dup = True
            if dup:
                covered[d].update(range(p, p + k))
    out = {}
    for d, w in toks.items():
        cov = sorted(covered[d])
        spans = sum(1 for j, t in enumerate(cov) if j == 0 or cov[j - 1] != t - 1)
        clean = " ".join(tok for t, tok in enumerate(w) if t not in covered[d])
        n_chars = sum(len(tok) for tok in w)
        dup_chars = sum(len(w[t]) for t in cov)
        out[d] = (
            len(w),
            len(cov),
            spans,
            clean,
            round(len(cov) / max(len(w), 1), 4),
            round(dup_chars / max(n_chars, 1), 4),
        )
    return out


@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), max_size=12),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=2, max_value=3),
    st.booleans(),
    st.booleans(),
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_substring_dedup_matches_python_reference(
    spark, corpora, k, keep_first, within_doc
):
    """substring_dedup == the naive pure-Python gram-coverage reference
    on arbitrary small corpora over a 3-word vocabulary (maximal gram
    collisions), across all four keep_first x within_doc modes."""
    from nous_spark.operators.dedup import substring_dedup

    docs = [(i, " ".join(words)) for i, words in enumerate(corpora)]
    want = {d: v[:4] for d, v in _py_substring_dedup(docs, k, keep_first, within_doc).items()}
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_tokens"], r["n_dup_spans"], r["text_clean"])
        for r in substring_dedup(
            sdf, min_len=k, keep_first=keep_first, within_doc=within_doc
        ).collect()
    }
    assert got == want


@given(
    st.lists(
        st.lists(st.sampled_from(["a", "bb", "ccc"]), max_size=10),
        min_size=1,
        max_size=4,
    ),
    st.integers(min_value=2, max_value=3),
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dup_span_signals_matches_python_reference(spark, corpora, k):
    """dup_span_signals (the gate-able quality columns) == the same
    pure-Python reference: span counts and token/char fractions, over a
    vocabulary of unequal word lengths so the two fractions genuinely
    differ."""
    from nous_spark.operators.dedup import dup_span_signals

    docs = [(i, " ".join(words)) for i, words in enumerate(corpora)]
    ref = _py_substring_dedup(docs, k)
    want = {
        d: (v[0], v[1], v[2], v[4], v[5]) for d, v in ref.items()
    }
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_dup_tokens"],
            r["n_dup_spans"],
            r["dup_span_token_frac"],
            r["dup_span_char_frac"],
        )
        for r in dup_span_signals(sdf, min_len=k).collect()
    }
    assert got == want


@given(
    st.lists(
        st.text(alphabet="ab é1 .", max_size=40), min_size=1, max_size=6
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_quality_classifier_matches_python_reference(spark, texts):
    """quality_classifier_score == a pure-Python reference (hashlib md5
    bucket, exact dyadic-weight sum, math.exp sigmoid) on arbitrary
    small texts over an alphabet with digits, punctuation and an
    accented letter — exercising tokenizer parity, the empty-term-list
    fold base case, and single-token docs (no bigrams)."""
    import hashlib
    import math
    import re as _re

    from nous_spark.operators.text import (
        QUALITY_CLF_BIAS,
        QUALITY_CLF_WEIGHTS,
        quality_classifier_score,
    )

    def ref(text):
        toks = [
            w
            for w in _re.sub(r"[^a-záàâãéêíóôõúüçñ]+", " ", text.lower()).split(" ")
            if w
        ]
        terms = toks + [f"{toks[i]}_{toks[i+1]}" for i in range(len(toks) - 1)]
        z = QUALITY_CLF_BIAS + sum(
            QUALITY_CLF_WEIGHTS[
                int(hashlib.md5(f"{t}:42".encode()).hexdigest()[:8], 16)
                % len(QUALITY_CLF_WEIGHTS)
            ]
            for t in terms
        )
        return len(terms), round(1.0 / (1.0 + math.exp(-z)), 4)

    docs = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_terms"], r["quality_score"])
        for r in quality_classifier_score(sdf).collect()
    }
    assert got == {i: ref(t) for i, t in docs}


@given(
    st.lists(st.text(alphabet="abz .7", max_size=30), min_size=1, max_size=6)
)
# a near-tie: the third text's mean is 7001700 micro-nats / 6 = 1.16695
@example(texts=["aaa", "7b", "7a7z7ab", "7a7a7b7b7za"])
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_corpus_lm_nll_matches_python_reference(spark, texts):
    """corpus_lm_nll == a pure-Python char-bigram LM reference (Counter
    counts, math.log, integer micro-nat rounding) on arbitrary small
    corpora — exercising the normalization collapse, zero-bigram docs
    (empty/1-char/no-letter texts), and the corpus-wide smoothing
    denominator that couples every doc's score to every other doc."""
    import math
    import re as _re
    from collections import Counter

    from nous_spark.operators.text import corpus_lm_nll, micro_mean_4dp

    rows = [(i, t) for i, t in enumerate(texts)]

    def norm(t):
        return _re.sub(r"[^a-z]+", " ", t.lower())

    bgs = {i: [norm(t)[j : j + 2] for j in range(len(norm(t)) - 1)] for i, t in rows}
    cnt = Counter(b for lst in bgs.values() for b in lst)
    pref = Counter()
    for b, c in cnt.items():
        pref[b[0]] += c
    vsz = len({b[1] for b in cnt})
    want = {}
    for i, _ in rows:
        lst = bgs[i]
        if not lst:
            want[i] = (0, 0, None)
        else:
            s = sum(
                round(-math.log((cnt[b] + 1) / float(pref[b[0]] + vsz)) * 1e6)
                for b in lst
            )
            want[i] = (len(lst), s, micro_mean_4dp(s, len(lst)))

    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll_micro"], r["avg_nll"])
        for r in corpus_lm_nll(sdf).collect()
    }
    assert got == want


def test_micro_mean_4dp_is_exact_on_ties():
    """7001700 micro-nats over 6 bigrams is exactly 1.16695, which rounds
    half away from zero to 1.167 (a double quotient gives Python 1.1669)."""
    from nous_spark.operators.text import micro_mean_4dp

    assert micro_mean_4dp(7001700, 6) == 1.167
    assert micro_mean_4dp(-7001700, 6) == -1.167
    assert str(micro_mean_4dp(-1, 7)) == "0.0"  # never -0.0
