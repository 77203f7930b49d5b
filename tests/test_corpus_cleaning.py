"""Web-corpus cleaning operators: Gopher-style intra-doc repetition
signals + C4-style cross-document line dedup (oracle parity is covered
by test_oracle_parity; these pin the semantic edge cases the synthetic
documents table may not exercise)."""

from __future__ import annotations

from nous_spark.extraction.html import extract_text_str
from nous_spark.operators.dedup import dedup_lines_corpus
from nous_spark.operators.text import micro_mean_4dp, repetition_signals

DOC_SCHEMA = "doc_id long, text string"


def _by_id(rows):
    return {r["doc_id"]: r for r in rows}


def test_repetition_signals_values(spark):
    docs = spark.createDataFrame(
        [
            # one repeated line out of three; top 2-gram "hello world" x2
            (1, "hello world\nhello world\nunique line"),
            (2, "solo"),  # <2 words -> no 2-gram; single line
            (3, ""),  # no lines, no words
        ],
        DOC_SCHEMA,
    )
    out = _by_id(repetition_signals(docs).collect())
    assert set(out) == {1, 2, 3}

    r1 = out[1]
    assert r1["n_lines"] == 3
    assert abs(r1["dup_line_frac"] - round(1 / 3, 4)) < 1e-9
    # 22 chars in repeated lines / 33 line chars
    assert abs(r1["dup_line_char_frac"] - round(22 / 33, 4)) < 1e-9
    # "hello world" x2 -> 2*10 gram chars / 30 word chars
    assert abs(r1["top_2gram_char_frac"] - round(20 / 30, 4)) < 1e-9

    assert out[2]["n_lines"] == 1
    assert out[2]["dup_line_frac"] == 0.0
    assert out[2]["top_2gram_char_frac"] == 0.0

    assert out[3]["n_lines"] == 0
    assert out[3]["dup_line_frac"] == 0.0
    assert out[3]["dup_line_char_frac"] == 0.0
    assert out[3]["top_2gram_char_frac"] == 0.0


def test_repetition_signals_top_gram_capped(spark):
    # overlapping occurrences of a periodic gram ('a a' x3 in 4 words)
    # would overcount covered chars (1.5) — the fraction caps at 1.0
    docs = spark.createDataFrame([(1, "a a a a")], DOC_SCHEMA)
    r = repetition_signals(docs).collect()[0]
    assert r["top_2gram_char_frac"] == 1.0


def test_dedup_lines_corpus_keep_first(spark):
    docs = spark.createDataFrame(
        [
            (1, "COOKIE\nalpha"),
            (2, "COOKIE\nbeta"),
            (3, "COOKIE\nCOOKIE\ngamma"),
            (4, ""),
            (5, "xx\nxx"),  # intra-doc repeat, df=1 -> untouched
        ],
        DOC_SCHEMA,
    )
    out = _by_id(dedup_lines_corpus(docs, min_df=2).collect())
    assert set(out) == {1, 2, 3, 4, 5}
    # first (min doc_id) doc keeps its boilerplate copies
    assert (out[1]["n_kept"], out[1]["n_dropped"]) == (2, 0)
    assert out[1]["text_clean"] == "COOKIE\nalpha"
    assert (out[2]["n_kept"], out[2]["n_dropped"]) == (1, 1)
    assert out[2]["text_clean"] == "beta"
    # BOTH copies in a non-first doc drop
    assert (out[3]["n_kept"], out[3]["n_dropped"]) == (1, 2)
    assert out[3]["text_clean"] == "gamma"
    # empty doc survives with empty output
    assert (out[4]["n_kept"], out[4]["n_dropped"]) == (0, 0)
    assert out[4]["text_clean"] == ""
    # intra-doc repetition is NOT cross-doc boilerplate
    assert (out[5]["n_kept"], out[5]["n_dropped"]) == (2, 0)
    assert out[5]["text_clean"] == "xx\nxx"


def test_dedup_lines_corpus_drop_all_and_min_df(spark):
    docs = spark.createDataFrame(
        [(1, "COOKIE\na"), (2, "COOKIE\nb"), (3, "COOKIE\nc")],
        DOC_SCHEMA,
    )
    # keep_first=False removes every copy corpus-wide
    strict = _by_id(dedup_lines_corpus(docs, min_df=2, keep_first=False).collect())
    assert all(strict[i]["n_dropped"] == 1 for i in (1, 2, 3))
    assert strict[1]["text_clean"] == "a"
    # min_df above the observed df keeps everything
    loose = _by_id(dedup_lines_corpus(docs, min_df=4).collect())
    assert all(loose[i]["n_dropped"] == 0 for i in (1, 2, 3))


def test_dedup_lines_corpus_preserves_order(spark):
    docs = spark.createDataFrame(
        [(1, "z9\nm5\na1"), (2, "nope")], DOC_SCHEMA
    )
    out = _by_id(dedup_lines_corpus(docs, min_df=2).collect())
    # original line order, NOT lexicographic
    assert out[1]["text_clean"] == "z9\nm5\na1"


def test_decontaminate_flags_shared_ngrams(spark):
    from nous_spark.operators.dedup import decontaminate

    span = " ".join(f"w{i}" for i in range(8))  # exactly one 8-gram
    train = spark.createDataFrame(
        [
            (1, f"prefix {span} suffix"),       # contains the eval span
            (2, "totally different words here that never overlap at all"),
            (3, "short doc"),                   # < n words -> 0/false
            (4, f"{span} {span}"),              # span twice + bridging grams
        ],
        DOC_SCHEMA,
    )
    eval_docs = spark.createDataFrame([(100, f"lead {span} tail")], DOC_SCHEMA)
    out = _by_id(decontaminate(train, eval_docs, n=8).collect())
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["contaminated"] and out[1]["n_shared_grams"] >= 1
    assert not out[2]["contaminated"] and out[2]["n_shared_grams"] == 0
    assert not out[3]["contaminated"]
    # distinct grams per doc: the doubled span counts once
    assert out[4]["contaminated"] and out[4]["n_shared_grams"] == 1
    # longer n than any shared span -> clean corpus
    out13 = _by_id(decontaminate(train, eval_docs, n=14).collect())
    assert not any(out13[i]["contaminated"] for i in out13)
    # shuffle-join fallback (eval too big to broadcast) is identical
    out_nb = _by_id(
        decontaminate(train, eval_docs, n=8, broadcast_eval=False).collect()
    )
    assert {k: tuple(v) for k, v in out_nb.items()} == {
        k: tuple(v) for k, v in out.items()
    }


def test_pii_scrub_counts_and_redaction(spark):
    from nous_spark.operators.text import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.io and c.d+x@e-f.org, call +44 123 4567 now"),
            (2, "server at 10.0.0.1 and 192.168.255.7 no mail"),
            (3, "clean text with no identifiers at all"),
            (4, "ip-ish 1.2.3.4.5 still redacts the leading quad"),
        ],
        DOC_SCHEMA,
    )
    out = _by_id(pii_scrub(docs).collect())
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ipv4s"]) == (2, 1, 0)
    assert out[1]["text_redacted"] == "mail <EMAIL> and <EMAIL>, call <PHONE> now"
    assert (out[2]["n_emails"], out[2]["n_ipv4s"]) == (0, 2)
    assert out[2]["text_redacted"] == "server at <IP> and <IP> no mail"
    assert out[3]["text_redacted"] == docs.collect()[2]["text"]
    assert (out[3]["n_emails"], out[3]["n_phones"], out[3]["n_ipv4s"]) == (0, 0, 0)
    assert "<IP>" in out[4]["text_redacted"]


def test_pii_scrub_us_phone_forms_three_engine_parity(spark):
    """The US paren/dashed phone forms must match identically under Java
    regex (Spark), RE2 (DuckDB), and Python re — same counts, same
    redacted text, on edge cases at alternation and \\b boundaries."""
    import re

    import duckdb

    from nous_spark.operators.text import PII_PATTERNS, pii_scrub

    texts = [
        (1, "call (555) 123-4567 today"),  # paren form, space variant
        (2, "or (555)123-4567 tight"),  # paren form, no space
        (3, "dial 555-123-4567 direct"),  # dashed form
        (4, "intl +1 555-123-4567 mixed"),  # +CC prefix then a US form
        (5, "not-a-phone 5551-123-4567 nor 555-123-45678"),  # \b guards
        (6, "two (555) 867-5309 and 555-123-0000 hits"),
        (7, "a@10.0.0.7.net email eats the ip"),  # raw-count semantics
    ]
    docs = spark.createDataFrame(texts, DOC_SCHEMA)
    out = _by_id(pii_scrub(docs).collect())
    assert out[1]["n_phones"] == 1 and out[1]["text_redacted"] == "call <PHONE> today"
    assert out[2]["n_phones"] == 1 and out[2]["text_redacted"] == "or <PHONE> tight"
    assert out[3]["n_phones"] == 1 and out[3]["text_redacted"] == "dial <PHONE> direct"
    # +1 555-123-4567: the +CC alternate needs 4 trailing digits so the
    # dashed US form wins the 555-123-4567 suffix
    assert out[4]["n_phones"] == 1 and out[4]["text_redacted"] == "intl +1 <PHONE> mixed"
    assert out[5]["n_phones"] == 0
    assert out[6]["n_phones"] == 2
    # counts are raw-text hits: the IPv4 inside the email is counted but
    # produces no <IP> token (the email replacement consumed it)
    assert out[7]["n_emails"] == 1 and out[7]["n_ipv4s"] == 1
    assert "<IP>" not in out[7]["text_redacted"]

    con = duckdb.connect()
    for doc_id, text in texts:
        red_py = text
        for name, pat, tok in PII_PATTERNS:
            n_py = len(re.findall(pat, text))
            n_duck = con.execute(
                "select len(regexp_extract_all(?, ?))", [text, pat]
            ).fetchone()[0]
            assert n_py == n_duck == out[doc_id][f"n_{name}"], (doc_id, name)
            red_py = re.sub(pat, tok, red_py)
        red_duck = con.execute(
            "select "
            + "".join("regexp_replace(" for _ in PII_PATTERNS)
            + "?"
            + "".join(f", '{p}', '{t}', 'g')" for _, p, t in PII_PATTERNS),
            [text],
        ).fetchone()[0]
        assert red_py == red_duck == out[doc_id]["text_redacted"], doc_id


SPAN15 = " ".join(f"w{i}" for i in range(15))  # a 15-token shared span


def test_substring_dedup_keep_first_and_short_docs(spark):
    from nous_spark.operators.dedup import substring_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + SPAN15 + " gamma"),
            (2, "delta " + SPAN15 + " epsilon zeta"),
            (3, "wholly unique filler " + " ".join(f"u{i}" for i in range(20))),
            (4, ""),
            (5, "too short for any gram"),
            (6, SPAN15),  # the span IS the whole doc
        ],
        DOC_SCHEMA,
    )
    out = _by_id(substring_dedup(docs, min_len=13).collect())
    # doc 1 is the corpus-first holder of the span: untouched
    assert out[1]["n_dup_tokens"] == 0
    assert out[1]["text_clean"] == "alpha beta " + SPAN15 + " gamma"
    # docs 2 and 6 lose exactly the 15 span tokens, one maximal span each
    for d, left in ((2, "delta epsilon zeta"), (6, "")):
        assert (out[d]["n_dup_tokens"], out[d]["n_dup_spans"]) == (15, 1)
        assert out[d]["text_clean"] == left
    assert out[3]["n_dup_tokens"] == 0
    assert (out[4]["n_tokens"], out[4]["text_clean"]) == (0, "")
    assert (out[5]["n_dup_tokens"], out[5]["text_clean"]) == (
        0,
        "too short for any gram",
    )


def test_substring_dedup_drop_all_and_span_boundaries(spark):
    from nous_spark.operators.dedup import substring_dedup

    docs = spark.createDataFrame(
        [(1, "x " + SPAN15 + " y"), (2, SPAN15)], DOC_SCHEMA
    )
    # keep_first=False: Lee et al.'s drop-ALL-copies convention
    strict = _by_id(substring_dedup(docs, min_len=13, keep_first=False).collect())
    assert strict[1]["text_clean"] == "x y" and strict[1]["n_dup_tokens"] == 15
    assert strict[2]["text_clean"] == "" and strict[2]["n_dup_spans"] == 1
    # a shared span one token SHORTER than min_len is never touched
    short = " ".join(f"s{i}" for i in range(12))
    docs12 = spark.createDataFrame([(1, "a " + short), (2, short + " b")], DOC_SCHEMA)
    out12 = _by_id(substring_dedup(docs12, min_len=13).collect())
    assert out12[1]["n_dup_tokens"] == 0 and out12[2]["n_dup_tokens"] == 0


def test_substring_dedup_within_doc_and_disjoint_spans(spark):
    from nous_spark.operators.dedup import substring_dedup

    # within-doc repeat: second copy masked only when within_doc=True
    rep = spark.createDataFrame([(1, SPAN15 + " mid " + SPAN15)], DOC_SCHEMA)
    off = _by_id(substring_dedup(rep, min_len=13).collect())
    assert off[1]["n_dup_tokens"] == 0
    on = _by_id(substring_dedup(rep, min_len=13, within_doc=True).collect())
    assert on[1]["n_dup_tokens"] == 15 and on[1]["n_dup_spans"] == 1
    assert on[1]["text_clean"] == SPAN15 + " mid"
    # two disjoint shared spans in one doc count as two maximal spans
    span_b = " ".join(f"q{i}" for i in range(14))
    docs = spark.createDataFrame(
        [(1, SPAN15 + " unrelated middle words here " + span_b), (2, SPAN15), (3, span_b)],
        DOC_SCHEMA,
    )
    out = _by_id(substring_dedup(docs, min_len=13).collect())
    assert (out[2]["n_dup_tokens"], out[3]["n_dup_tokens"]) == (15, 14)
    assert out[1]["n_dup_tokens"] == 0  # doc 1 is first for both grams
    two = spark.createDataFrame(
        [(0, SPAN15), (1, SPAN15 + " unrelated middle words here " + span_b), (2, span_b)],
        DOC_SCHEMA,
    )
    out2 = _by_id(substring_dedup(two, min_len=13).collect())
    # doc 1: loses SPAN15 (first in doc 0) but keeps span_b (doc 1 is first)
    assert out2[1]["n_dup_tokens"] == 15 and out2[1]["n_dup_spans"] == 1
    assert out2[1]["text_clean"] == "unrelated middle words here " + span_b


def test_dedup_paragraphs_granularity(spark):
    from nous_spark.operators.dedup import dedup_lines_corpus

    footer = "subscribe now\nno spam ever"  # internal newline preserved
    docs = spark.createDataFrame(
        [
            (1, f"intro one\nstill intro\n\n{footer}"),
            (2, f"different body text\n\n\n{footer}\n\n"),
            (3, "no shared paragraphs here at all"),
        ],
        DOC_SCHEMA,
    )
    out = _by_id(dedup_lines_corpus(docs, min_df=2, granularity="paragraph").collect())
    # doc 1 keeps both paragraphs (it is first for the footer)
    assert (out[1]["n_kept"], out[1]["n_dropped"]) == (2, 0)
    assert out[1]["text_clean"] == f"intro one\nstill intro\n\n{footer}"
    # doc 2 loses the footer but keeps its unique paragraph; the
    # trailing blank lines never become units
    assert (out[2]["n_kept"], out[2]["n_dropped"]) == (1, 1)
    assert out[2]["text_clean"] == "different body text"
    assert (out[3]["n_kept"], out[3]["n_dropped"]) == (1, 0)
    # line granularity on the same corpus treats the footer's two LINES
    # separately — both shared, both dropped from doc 2
    lines = _by_id(dedup_lines_corpus(docs, min_df=2, granularity="line").collect())
    assert lines[2]["n_dropped"] == 2


def test_corpus_lm_nll_separates_garbage_from_typical(spark):
    """The corpus-trained char-bigram LM must rank a gibberish outlier
    above every typical-English doc on avg NLL (the CCNet tail), rank a
    repeated common phrase lowest (the head), and give zero-bigram docs
    (empty / all-punctuation) the (0, 0, NULL) sentinel."""
    from nous_spark.operators.text import corpus_lm_nll

    typical = [
        "the quick brown fox jumps over the lazy dog",
        "a dog and a fox ran over the hill to the river",
        "the lazy dog sleeps near the quiet river bank",
        "the fox and the dog played over the green hill",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(typical)]
        + [(90, "the the the the the the the the")]
        + [(91, "xqzj vwkp qjxz wvpk zjxq kpvw")]
        + [(92, ""), (93, "!!! ???")],
        DOC_SCHEMA,
    )
    out = {r["doc_id"]: r for r in corpus_lm_nll(docs).collect()}
    garbage, head = out[91]["avg_nll"], out[90]["avg_nll"]
    for i in range(len(typical)):
        assert garbage > out[i]["avg_nll"] > head
    for i in (92, 93):
        assert (out[i]["n_bigrams"], out[i]["nll_micro"], out[i]["avg_nll"]) == (
            0,
            0,
            None,
        )


# ------------------------------------------------------------ gopher rules
def test_gopher_rules_each_rule_gates_independently(spark):
    """One crafted doc per rule, failing exactly that rule at the paper
    defaults (min_stop_words=2), plus a doc passing all of them."""
    from nous_spark.operators.text import gopher_rules

    passing = "the cat sat with a friendly dog " * 8  # 64 words, 2 stops
    bullet_lines = "\n".join(
        ["- the item with value nine extra words here"] * 10
    )
    ellipsis_lines = "\n".join(
        ["the item with value nine extra words seven..."] * 4
        + ["the item with value nine extra words seven"] * 6
    )
    docs = spark.createDataFrame(
        [
            (0, passing),
            (1, "the cat sat with a dog"),  # words < 50
            (2, "extraordinarily " * 50 + "the with"),  # mean word len > 10
            (3, passing + "hashtag#now " * 10),  # symbol ratio > 0.1
            (4, bullet_lines),  # bullet line frac 1.0 > 0.9
            (5, ellipsis_lines),  # ellipsis line frac 0.4 > 0.3
            (6, passing + "12345 " * 30),  # alpha word frac < 0.8
            (7, "cat sat dog run big red fox jump " * 8),  # 0 stop words
        ],
        DOC_SCHEMA,
    )
    out = _by_id(gopher_rules(docs).collect())
    assert out[0]["keep"] is True
    for i in range(1, 8):
        assert out[i]["keep"] is False, i
    # the failing signal is the expected one (all other rules pass)
    assert out[1]["n_words"] < 50
    assert out[2]["mean_word_len"] > 10.0
    assert out[3]["symbol_word_ratio"] > 0.1
    assert out[4]["bullet_line_frac"] > 0.9
    assert out[5]["ellipsis_line_frac"] > 0.3
    assert out[6]["alpha_word_frac"] < 0.8
    assert out[7]["n_stop_words"] == 0
    # ellipsis dots counted as symbols too, but under the 0.1 cap here
    assert 0.0 < out[5]["symbol_word_ratio"] <= 0.1


def test_gopher_rules_null_and_empty_text(spark):
    """NULL text is coalesced to '' (the quality_filter convention):
    one empty whitespace token, zero lines, all signals defined, keep
    False — and identically for '' so the two cannot diverge."""
    from nous_spark.operators.text import gopher_rules

    docs = spark.createDataFrame([(1, None), (2, "")], DOC_SCHEMA)
    out = _by_id(gopher_rules(docs).collect())
    for i in (1, 2):
        r = out[i]
        assert r["n_words"] == 1 and r["mean_word_len"] == 0.0
        assert r["bullet_line_frac"] == 0.0 and r["ellipsis_line_frac"] == 0.0
        assert r["alpha_word_frac"] == 0.0 and r["n_stop_words"] == 0
        assert r["keep"] is False


def test_gopher_rules_unknown_threshold_raises(spark):
    import pytest as _pytest

    from nous_spark.operators.text import gopher_rules, gopher_rules_oracle_sql

    docs = spark.createDataFrame([(1, "x")], DOC_SCHEMA)
    with _pytest.raises(ValueError, match="unknown gopher"):
        gopher_rules(docs, min_wordz=3)
    with _pytest.raises(ValueError, match="unknown gopher"):
        gopher_rules_oracle_sql(max_bullets=1)


# ------------------------------------------------------------- dsir scores
def test_dsir_scores_separate_target_like_from_off_domain(spark):
    """Docs sharing the target domain's vocabulary must outscore
    off-domain docs; scores are exact integer micro-nat sums."""
    from nous_spark.operators.text import dsir_log_ratio_score

    target = spark.createDataFrame(
        [(100 + i, "quantum physics entangled qubit superposition decoherence")
         for i in range(4)],
        DOC_SCHEMA,
    )
    raw = spark.createDataFrame(
        [
            (1, "quantum qubit decoherence entangled physics"),  # on-domain
            (2, "buy cheap shoes discount sale free shipping offer"),  # off
            (3, "quantum physics superposition qubit"),  # on-domain
            (4, "celebrity gossip fashion style trends red carpet"),  # off
        ],
        DOC_SCHEMA,
    )
    out = _by_id(dsir_log_ratio_score(raw, target).collect())
    on = {out[1]["avg_log_ratio"], out[3]["avg_log_ratio"]}
    off = {out[2]["avg_log_ratio"], out[4]["avg_log_ratio"]}
    assert min(on) > max(off)
    # exact-integer invariant: the 4-dp mean of the micro sum is avg
    for r in out.values():
        assert r["dsir_micro"] == int(r["dsir_micro"])
        assert r["avg_log_ratio"] == micro_mean_4dp(r["dsir_micro"], r["n_terms"])


def test_dsir_scores_null_and_termless_docs(spark):
    """NULL/empty/no-letter text -> zero terms, zero score, NULL avg —
    the corpus_lm_nll zero-row convention."""
    from nous_spark.operators.text import dsir_log_ratio_score

    target = spark.createDataFrame([(9, "alpha beta gamma")], DOC_SCHEMA)
    raw = spark.createDataFrame(
        [(1, None), (2, ""), (3, "12345 67890"), (4, "alpha beta")],
        DOC_SCHEMA,
    )
    out = _by_id(dsir_log_ratio_score(raw, target).collect())
    for i in (1, 2, 3):
        assert out[i]["n_terms"] == 0
        assert out[i]["dsir_micro"] == 0
        assert out[i]["avg_log_ratio"] is None
    assert out[4]["n_terms"] == 3  # alpha, beta, alpha_beta
    assert out[4]["avg_log_ratio"] is not None


def test_c4_line_filter_rules(spark):
    """Pin each C4 cleaning rule (Raffel et al. 2020 §2.2): terminal
    punctuation, min line words, javascript substring, doc-level lorem
    ipsum / brace / min-kept-lines gates, NULL text."""
    from nous_spark.operators.text import c4_line_filter

    rows = [
        (0, 'Good line with five words here.\nshort line.\nno terminal punct line at all\n'
            'Please enable javascript to view this site today.\nAnother good long line ends here!'),
        (1, "One good line with enough words here."),          # < min_kept_lines
        (2, "Nice long sentence here with lorem ipsum inside it."),  # doc gate
        (3, "A config snippet { with braces } spanning enough words."),  # doc gate
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           c4_line_filter(docs, min_line_words=5, min_kept_lines=2).collect()}

    assert got[0]["clean_text"] == (
        "Good line with five words here.\nAnother good long line ends here!"
    )
    assert got[0]["n_lines"] == 5 and got[0]["n_kept_lines"] == 2 and got[0]["keep"]
    assert got[1]["n_kept_lines"] == 1 and not got[1]["keep"]  # below min_kept_lines
    assert got[2]["n_kept_lines"] == 1 and not got[2]["keep"]  # lorem ipsum gate
    assert not got[3]["keep"]                                   # brace gate
    assert got[4] and got[4]["clean_text"] == "" and got[4]["n_lines"] == 0 \
        and not got[4]["keep"]                                  # NULL text

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown c4"):
        c4_line_filter(docs, bogus=1)


def test_c4_line_filter_composes_with_streaming(spark, tmp_path):
    """c4_line_filter is a stateless Column projection, so it runs
    unchanged on a readStream frame — line cleaning at ingest time.
    Stream == batch."""
    from nous_spark.operators.text import c4_line_filter

    docs = spark.createDataFrame(
        [(i, f"Line number {i} has enough words right here.\nshort.\n"
             f"Second proper line number {i} also ends well.") for i in range(20)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "c4_src")
    docs.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        c4_line_filter(stream, min_kept_lines=2)
        .writeStream.format("memory")
        .queryName("c4_stream_q")
        .option("checkpointLocation", str(tmp_path / "cp_c4"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("select * from c4_stream_q").collect()}
    want = {tuple(r) for r in c4_line_filter(docs, min_kept_lines=2).collect()}
    assert got == want and len(want) == 20


def test_domain_blocklist_filter_edges_and_df_variant(spark):
    """Host/registrable-domain extraction edges (userinfo, port, mixed
    case, ccSLD, single label, no scheme) + the broadcast-DataFrame
    blocklist variant agrees with the literal-list variant."""
    from nous_spark.operators.text import domain_blocklist_filter

    rows = [
        (0, "https://user:pw@WWW.News.Example.COM:8443/a?b#c"),
        (1, "http://bbc.CO.UK/story"),
        (2, "https://sub.deep.bbc.co.uk:80/x"),
        (3, "ftp://localhost/file"),
        (4, "not a url at all"),
        (5, "https://ads.tracker.org/pixel"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    bl = ["bbc.co.uk", "tracker.org"]
    got = {r["doc_id"]: (r["host"], r["domain"], r["blocked"])
           for r in domain_blocklist_filter(docs, bl).collect()}
    assert got[0] == ("www.news.example.com", "example.com", False)
    assert got[1] == ("bbc.co.uk", "bbc.co.uk", True)
    assert got[2] == ("sub.deep.bbc.co.uk", "bbc.co.uk", True)
    assert got[3] == ("localhost", "localhost", False)
    assert got[4] == ("", "", False)
    assert got[5] == ("ads.tracker.org", "tracker.org", True)

    bl_df = spark.createDataFrame([(d,) for d in bl], "domain string")
    got_df = {r["doc_id"]: (r["host"], r["domain"], r["blocked"])
              for r in domain_blocklist_filter(docs, bl_df).collect()}
    assert got_df == got


def test_domain_blocklist_filter_composes_with_streaming(spark, tmp_path):
    """The literal-list variant is a stateless Column projection — URL
    gating at ingest time. Stream == batch."""
    from nous_spark.operators.text import domain_blocklist_filter

    docs = spark.createDataFrame(
        [(i, f"https://site{i % 4}.org/p/{i}") for i in range(24)],
        "doc_id long, url string",
    )
    src = str(tmp_path / "url_src")
    docs.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, url string").parquet(src)
    q = (
        domain_blocklist_filter(stream, ["site2.org"])
        .writeStream.format("memory")
        .queryName("dom_stream_q")
        .option("checkpointLocation", str(tmp_path / "cp_dom"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("select * from dom_stream_q").collect()}
    want = {tuple(r) for r in domain_blocklist_filter(docs, ["site2.org"]).collect()}
    assert got == want and sum(1 for r in want if r[3]) == 6


# ---------------------------------------------------------------------------
# html_extract: HTML -> text extraction (shared step table)
# ---------------------------------------------------------------------------
HTML_CASES = [
    (1, "<html><body><p>Hello world.</p><p>Second para.</p></body></html>"),
    # uppercase tags + attrs; script body contains a fake close tag
    (2, '<SCRIPT type="x">var s = "</div>"; if (1 < 2) {}</SCRIPT><P>kept.</P>'),
    (3, "<style>p { color: red }</style>before<br/>after<BR>third"),
    # multi-line comment swallowed whole
    (4, "a<!-- hidden\nlines\nhere -->b"),
    # entities, incl. double-encoded &amp;lt; (must yield literal '&lt;')
    (5, "x &lt;tag&gt; &quot;q&quot; &#39;a&#39;&nbsp;y &amp; z &amp;lt;raw"),
    # unclosed tag strips to the next '>', then text resumes
    (6, "start <a href='u' end middle> tail"),
    # whitespace: tabs/CR collapse, blank lines drop, lines trim
    (7, "  one\t\tword \r\n\n\n  two  \n<div></div>\n"),
    (8, None),
    (9, ""),
    (10, "<script>only code</script><style>only style</style>"),
    # <head> is dropped whole; <header> is a block, not a head
    (11, "<HEAD><title>t</title></HEAD><header>x</header>y"),
    # html.escape's apostrophe
    (12, "it&#x27;s"),
    # non-ASCII / control whitespace inside lines and at line edges
    (13, "\xa0a\u3000b\x0bc\x1cd\xa0\n\x1c\x0b e \u3000"),
    # an inline tag inside a word becomes a space
    (14, "Hel<b>lo</b>"),
    # non-ASCII case variants of tag names (U+017F, U+0131) are not the
    # tag: tag names match ASCII case classes in all three engines
    (15, "<\u017fcript>x</script>y"),
    (16, "<l\u0131>a</l\u0131>b"),
]


def _spark_html(spark, rows):
    from nous_spark.operators.text import html_extract

    docs = spark.createDataFrame(rows, "doc_id long, html string")
    return _by_id(html_extract(docs).collect())


def test_html_extract_matches_python_reference(spark):
    """The Column fold of HTML_STRIP_STEPS == the pipeline's Python fold
    (extract_text_str) on every adversarial case."""
    got = _spark_html(spark, HTML_CASES)
    assert set(got) == {d for d, _ in HTML_CASES}
    for doc_id, html in HTML_CASES:
        text = extract_text_str(html)
        r = got[doc_id]
        n_lines = len(text.split("\n")) if text else 0
        assert (r["text"], r["n_lines"]) == (text, n_lines), (doc_id, r["text"])
        if not html:
            assert r["text_density"] is None, doc_id
        else:
            assert r["text_density"] == round(len(text) / len(html), 4), doc_id


def test_html_extract_adversarial_cases_pinned(spark):
    got = _spark_html(spark, HTML_CASES)
    assert got[11]["text"] == "x\ny" and got[11]["n_lines"] == 2
    assert got[12]["text"] == "it's"
    assert got[13]["text"] == "a b c d\ne"
    assert got[14]["text"] == "Hel lo"
    assert got[15]["text"] == "x y"
    assert got[16]["text"] == "a b"


def test_html_extract_semantics_pinned(spark):
    got = _spark_html(spark, HTML_CASES)
    assert got[1]["text"] == "Hello world.\nSecond para."  # </p> -> newline
    assert got[2]["text"] == "kept."  # script CONTENT never leaks
    assert got[3]["text"] == "before\nafter\nthird"  # br variants
    assert got[4]["text"] == "a b"  # comment gone, sides joined
    assert got[5]["text"] == 'x <tag> "q" \'a\' y & z &lt;raw'
    assert got[6]["text"] == "start tail"  # unclosed tag eats to next '>'
    assert got[7]["text"] == "one word\ntwo"
    for d in (8, 9, 10):
        assert (got[d]["text"], got[d]["n_lines"]) == ("", 0), d
    assert got[8]["text_density"] is None and got[9]["text_density"] is None
    assert got[10]["text_density"] == 0.0  # nonempty html, empty text
    assert 0.0 < got[1]["text_density"] < 1.0


def test_html_extract_duckdb_oracle_on_adversarial_corpus(spark):
    """Cross-engine check on the adversarial cases (the sf documents
    parity in test_oracle_parity only sees the tame synthesized shell):
    the generated oracle must agree byte-for-byte on every edge case."""
    import duckdb
    import pandas as pd

    from nous_spark.operators.text import html_extract_oracle_sql

    con = duckdb.connect()
    con.register("docs_html", pd.DataFrame(HTML_CASES, columns=["doc_id", "html"]))
    duck = {
        int(r[0]): (r[1], int(r[2]), r[3])
        for r in con.execute(
            html_extract_oracle_sql(source="SELECT doc_id, html FROM docs_html")
        ).fetchall()
    }
    got = _spark_html(spark, HTML_CASES)
    for doc_id in got:
        dd = duck[doc_id]
        d_density = None if dd[2] is None or dd[2] != dd[2] else dd[2]
        assert (
            got[doc_id]["text"],
            got[doc_id]["n_lines"],
            got[doc_id]["text_density"],
        ) == (dd[0], dd[1], d_density), doc_id


def test_html_fold_three_executors_on_datagen_pages(spark):
    """On datagen pages of both workload shapes (no fill / 32 fill
    sentences), the Python, Column and DuckDB folds of HTML_STRIP_STEPS
    agree and round-trip ``datagen.html_of`` exactly."""
    import duckdb
    import pandas as pd

    from nous_spark.datagen import gen_row
    from nous_spark.operators.text import html_extract_oracle_sql

    pages = [gen_row(i, 1, fill)[0] for fill in (0, 32) for i in range(200)]
    rows = [(i, p["html"].decode("utf-8")) for i, p in enumerate(pages)]
    jvm = _spark_html(spark, rows)
    con = duckdb.connect()
    con.register("docs_html", pd.DataFrame(rows, columns=["doc_id", "html"]))
    duck = dict(
        con.execute(
            "SELECT doc_id, text FROM ("
            + html_extract_oracle_sql(source="SELECT doc_id, html FROM docs_html")
            + ")"
        ).fetchall()
    )
    for i, p in enumerate(pages):
        assert extract_text_str(p["html"]) == jvm[i]["text"] == duck[i] == p["text"], i


def test_html_extract_plan_is_zero_exchange(spark):
    from nous_spark.operators.text import html_extract

    docs = spark.createDataFrame(HTML_CASES, "doc_id long, html string")
    plan = html_extract(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan  # pure Column chain, no UDF workers


# ---------------------------------------------------------------------------
# html_links: hyperlink (web-graph edge) extraction
# ---------------------------------------------------------------------------
LINK_CASES = [
    # entity-encoded query string; uppercase tag + host
    (1, '<p><a href="https://a.com/?x=1&amp;y=2">first link</a> mid '
        '<A HREF="https://B.com/">B &amp; co</A></p>'),
    # attrs before href; inner tag + newline in anchor; single-quoted
    # href is outside the lexical rule (deliberately skipped)
    (2, '<a class="x" href="u1">one <b>bold</b>\n two</a>'
        "<a href='single'>skipped</a>"),
    # empty href kept (row exists), anchor-less name tag skipped
    (3, '<a href="">empty</a><a name="no-href">no</a>'),
    (4, None),
    (5, ""),
    # anchor is only an inner tag -> cleans to ''
    (6, '<a href="https://c.com" title="t">img only <img src="i.png"/></a>'),
    # separators outside [ \t\n\f\r] (VT, NBSP, FS) are not whitespace
    # to the link rule in any engine: no rows
    (7, '<a\x0bhref="u">v</a>'),
    (8, '<a\xa0href="u">v</a>'),
    (9, '<a\x1chref="u">v</a>'),
]


def test_html_links_matches_python_reference(spark):
    from nous_spark.operators.text import html_links, html_links_py

    docs = spark.createDataFrame(LINK_CASES, "doc_id long, html string")
    got = [
        (r["doc_id"], r["link_no"], r["href"], r["anchor"])
        for r in html_links(docs).orderBy("doc_id", "link_no").collect()
    ]
    want = [(d, i, h, a) for d, html in LINK_CASES for i, h, a in html_links_py(html)]
    assert got == want
    # pinned semantics: entity-unescaped href, cleaned anchor, doc order
    assert got[0] == (1, 0, "https://a.com/?x=1&y=2", "first link")
    assert got[1] == (1, 1, "https://B.com/", "B & co")
    assert got[2] == (2, 0, "u1", "one bold two")
    assert (3, 0, "", "empty") in got and (6, 0, "https://c.com", "img only") in got
    assert {d for d, *_ in got} == {1, 2, 3, 6}  # 4/5 emit no rows


def test_html_links_duckdb_oracle_on_adversarial_corpus(spark):
    import duckdb
    import pandas as pd

    from nous_spark.operators.text import html_links, html_links_oracle_sql

    docs = spark.createDataFrame(LINK_CASES, "doc_id long, html string")
    got = [
        tuple(r)
        for r in html_links(docs).orderBy("doc_id", "link_no").collect()
    ]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(LINK_CASES, columns=["doc_id", "html"]))
    duck = [
        tuple(r)
        for r in con.execute(
            html_links_oracle_sql() + " ORDER BY doc_id, link_no"
        ).fetchall()
    ]
    assert got == duck


def test_html_links_plan_is_zero_exchange(spark):
    from nous_spark.operators.text import html_links

    docs = spark.createDataFrame(LINK_CASES, "doc_id long, html string")
    plan = html_links(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan  # generate + project, no UDF workers
