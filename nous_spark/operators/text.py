"""Text-analysis operators for the documents table: token counting,
quality scoring, language ID, document fingerprinting.

Design split:
  * token_count / quality metrics — pure Column expressions (JVM,
    codegen, oracle-checkable in DuckDB with the same formulas);
  * language ID / fingerprint — Arrow-batched UDFs (deterministic,
    seeded; no oracle — verified by pytest invariants instead).
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nous_spark.extraction.html import ASCII_SPACE, HTML_STRIP_STEPS, ascii_ci

# ---------------------------------------------------------------- counting
def token_count_col(text: Column) -> Column:
    """Whitespace token count — identical formula to the DuckDB oracle:
    length(regexp_split_to_array(trim(text), '\\s+'))."""
    return F.size(F.split(F.trim(text), r"\s+"))


def bpe_ish_token_count_col(text: Column) -> Column:
    """BPE-ish token estimate as a pure Column expression (JVM, codegen,
    oracle-checkable): tokens = \\w+ runs and single non-word non-space
    marks; each token contributes ceil(len/6) subword units (the
    standard ~4-6 chars/token heuristic). Same formula as the DuckDB
    oracle's regexp_extract_all + list_transform."""
    toks = F.regexp_extract_all(text, F.lit(r"\w+|[^\w\s]"), F.lit(0))
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(t) / 6),
    )


# ---------------------------------------------------------------- quality
def quality_columns(text: Column) -> dict[str, Column]:
    """Quality-scoring features, all SQL-expressible (oracle parity):
    chars, words, avg word length, punctuation ratio, the-stopword ratio."""
    chars = F.length(text)
    words = token_count_col(text)
    nospace = F.length(F.regexp_replace(text, r"\s", ""))
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    # token-equality count, not a split on '\s+the\s+' delimiters: the
    # split is non-overlapping, so consecutive stopwords ("the the")
    # counted once — filtering the token array counts every occurrence
    stop = F.size(F.filter(F.split(F.trim(text), r"\s+"), lambda w: w == "the"))
    return {
        "n_chars_calc": chars,
        "n_words": words,
        "avg_word_len": F.round(nospace / words, 4),
        "punct_ratio": F.round(punct / chars, 4),
        "stop_the_ratio": F.round(stop / words, 4),
    }


def quality_score_cols(text: Column) -> dict[str, Column]:
    """Composite quality score in [0,1] + keep flag — the C4/Gopher-style
    heuristic filter a pretraining pipeline runs before tokenization.
    All SQL-expressible (oracle parity): word-count band, mean word
    length band, punctuation presence, low symbol ratio.
    """
    q = quality_columns(text)
    words = q["n_words"]
    awl = q["avg_word_len"]
    punct = q["punct_ratio"]
    score = (
        F.when((words >= 10) & (words <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((awl >= 3.0) & (awl <= 12.0), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(punct > 0.0, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(punct <= 0.1, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    return {"quality_score": F.round(score, 2), "keep": score >= 0.7}


# ---------------------------------------------------------------- url canon
def canonical_url(url: str | None) -> str:
    """Deterministic URL canonicalization for dedup keys: lowercase
    scheme/host, strip default ports and fragments, drop trailing slash
    on empty paths, sort query params. Pure function — the same rule must
    key every dedup pass or near-identical pages double-count."""
    if not url:
        return ""
    from urllib.parse import parse_qsl, urlencode, urlsplit, urlunsplit

    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return url.strip()
    scheme = parts.scheme.lower()
    host = parts.hostname.lower() if parts.hostname else ""
    port = parts.port
    if port and not (
        (scheme == "http" and port == 80) or (scheme == "https" and port == 443)
    ):
        host = f"{host}:{port}"
    path = parts.path or "/"
    query = urlencode(sorted(parse_qsl(parts.query, keep_blank_values=True)))
    return urlunsplit((scheme, host, path, query, ""))


@F.pandas_udf(T.StringType())
def canonical_url_udf(url: pd.Series) -> pd.Series:
    return url.map(canonical_url)


# ---------------------------------------------------------------- URL domain gate
# Country-code second-level suffixes where the registrable domain is the
# LAST THREE dot-labels (bbc.co.uk, not co.uk) — the minimal public-suffix
# table a crawl gate needs; shared verbatim with the generated oracle.
URL_CC_SLDS = ("co.uk", "ac.uk", "co.jp", "com.au", "com.br")
_URL_HOST_RE = r"^[a-z][a-zA-Z0-9+.\-]*://([^/?#]+)"


def host_sql_expr(e: str) -> str:
    """DuckDB mirror of ``url_host_col`` applied to SQL expression
    ``e`` — GENERATED from ``_URL_HOST_RE``. The ONE place the host
    identity is rendered to SQL (consumed by the blocklist and every
    webgraph oracle)."""
    return (
        "regexp_replace(regexp_replace(lower(regexp_extract("
        f"{e}, '{_URL_HOST_RE}', 1)), '^[^@]*@', ''), ':[0-9]+$', '')"
    )


def registrable_domain_sql_expr(h: str) -> str:
    """DuckDB mirror of ``url_registrable_domain_col`` applied to host
    expression ``h`` — GENERATED from ``URL_CC_SLDS``. Inline (no CTE)
    so it can live inside a list lambda; DuckDB folds the repeated
    string_split."""
    slds = ", ".join(f"'{s}'" for s in URL_CC_SLDS)
    lab = f"string_split({h}, '.')"
    last2 = f"({lab}[-2] || '.' || {lab}[-1])"
    last3 = f"({lab}[-3] || '.' || {lab}[-2] || '.' || {lab}[-1])"
    return (
        f"CASE WHEN len({lab}) >= 3 AND {last2} IN ({slds}) THEN {last3} "
        f"WHEN len({lab}) >= 2 THEN {last2} ELSE {h} END"
    )


def url_host_col(url: Column) -> Column:
    """Lowercased host of a URL: the authority component minus userinfo
    and port. No scheme -> '' (regexp_extract's no-match value in BOTH
    Spark and DuckDB)."""
    h = F.lower(F.regexp_extract(url, _URL_HOST_RE, 1))
    h = F.regexp_replace(h, r"^[^@]*@", "")
    return F.regexp_replace(h, r":[0-9]+$", "")


def url_registrable_domain_col(host: Column) -> Column:
    """Registrable domain of a host: last two dot-labels, or last THREE
    when the last two are a ``URL_CC_SLDS`` suffix (bbc.co.uk). Hosts
    with a single label (localhost, '') pass through unchanged."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(
        ".", F.element_at(labels, -2), F.element_at(labels, -1)
    )
    last3 = F.concat_ws(
        ".",
        F.element_at(labels, -3),
        F.element_at(labels, -2),
        F.element_at(labels, -1),
    )
    return (
        F.when((n >= 3) & last2.isin(*URL_CC_SLDS), last3)
        .when(n >= 2, last2)
        .otherwise(host)
    )


def domain_blocklist_filter(
    docs: DataFrame,
    blocklist,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """RefinedWeb/Dolma-style URL domain gate — the first filter of a
    web-crawl pipeline: extract the host and registrable domain from
    each document's URL and flag documents whose registrable domain is
    blocklisted. Returns (id, host, domain, blocked); callers filter
    ``~blocked``.

    ``blocklist`` is either a small sequence of domain strings (becomes
    a codegen'd ``isin`` — zero exchanges, streams like pii_scrub) or a
    (domain) DataFrame for real-world 100k+-entry lists (broadcast to
    every executor, left join + null test — still one narrow pass over
    the corpus; adult/malware blocklists are MBs against 100 TB).

    Host/domain rules are shared with the generated DuckDB oracle
    (``domain_blocklist_oracle_sql``): scheme-anchored authority regex,
    userinfo/port strip, lowercase, last-2-labels registrable domain
    with the ``URL_CC_SLDS`` last-3 exception.
    """
    host = url_host_col(F.col(url_col))
    base = docs.select(
        F.col(id_col),
        host.alias("host"),
    ).withColumn("domain", url_registrable_domain_col(F.col("host")))
    if isinstance(blocklist, DataFrame):
        bl = F.broadcast(
            blocklist.select(F.col("domain").alias("_bl_domain")).distinct()
        )
        return (
            base.join(bl, base["domain"] == bl["_bl_domain"], "left")
            .select(
                id_col,
                "host",
                "domain",
                F.col("_bl_domain").isNotNull().alias("blocked"),
            )
        )
    return base.select(
        id_col,
        "host",
        "domain",
        F.col("domain").isin(*[str(s) for s in blocklist]).alias("blocked"),
    )


def domain_blocklist_oracle_sql(
    blocklist,
    source: str = "SELECT doc_id, url FROM documents",
) -> str:
    """DuckDB mirror of ``domain_blocklist_filter`` (literal-list
    variant), GENERATED from the shared ``host_sql_expr`` /
    ``registrable_domain_sql_expr`` generators (one SQL rendering of
    the URL identity, shared with the webgraph oracles). ``source`` is
    the (doc_id, url) relation."""
    bl = ", ".join(f"'{s}'" for s in blocklist)
    dom = registrable_domain_sql_expr("host")
    return f"""
        WITH h AS (
          SELECT doc_id, {host_sql_expr("url")} AS host
          FROM ({source})
        )
        SELECT doc_id, host,
          {dom} AS domain,
          ({dom}) IN ({bl}) AS blocked
        FROM h
    """


# ---------------------------------------------------------------- lang id
_LANG_STOPWORDS = {
    "en": {"the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "on", "with", "as", "at"},
    "pt": {"de", "que", "e", "o", "a", "do", "da", "em", "um", "uma", "para", "com", "não", "os"},
    "fr": {"le", "la", "de", "et", "les", "des", "en", "un", "une", "du", "que", "est", "pour", "qui"},
    "de": {"der", "die", "und", "das", "in", "von", "zu", "den", "mit", "ist", "des", "im", "ein", "auf"},
    "es": {"el", "la", "de", "que", "y", "en", "los", "del", "se", "las", "por", "un", "con", "una"},
}


def lang_id_text(text: str | None) -> str:
    """Stopword-overlap language ID; 'und' (undetermined) when no signal."""
    if not text:
        return "und"
    words = re.findall(r"[a-záàâãéêíóôõúüçñ]+", text.lower())
    if not words:
        return "und"
    bag = pd.Series(words).value_counts()
    best_lang, best_score = "und", 0.0
    for lang in sorted(_LANG_STOPWORDS):
        score = sum(int(bag.get(w, 0)) for w in _LANG_STOPWORDS[lang]) / len(words)
        if score > best_score:
            best_lang, best_score = lang, score
    return best_lang if best_score > 0.02 else "und"


def word_tokens_col(text: Column) -> Column:
    """THE word tokenizer of this module ([a-z+accents]+ runs of the
    lowered text): lang_id_col, tfidf_topk_terms and
    quality_classifier_score all featurize through this one expression,
    so their tokenizations cannot drift from each other — or from the
    generated DuckDB oracles, which replay the same regex."""
    return F.filter(
        F.split(F.regexp_replace(F.lower(text), r"[^a-záàâãéêíóôõúüçñ]+", " "), " "),
        lambda w: w != "",
    )


def lang_id_col(text: Column) -> Column:
    """JVM-side language ID — same stopword-overlap metric as
    lang_id_text, as pure Column expressions (no Python workers):
    score(lang) = (# word occurrences in lang's stopword set) / #words,
    argmax over langs, 'und' below the 0.02 floor. Word extraction uses
    the same [a-z+accents]+ tokenization as the Python form."""
    words = word_tokens_col(text)
    n_words = F.size(words)
    cands = []
    for lang in sorted(_LANG_STOPWORDS):
        stop = F.array(*[F.lit(w) for w in sorted(_LANG_STOPWORDS[lang])])
        score = F.size(F.filter(words, lambda w: F.array_contains(stop, w))) / n_words
        cands.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    # argmax as a runtime aggregate loop (strictly-greater keeps the first
    # lang on ties, matching the Python form) — NOT a nested when-tree,
    # which Catalyst would inline exponentially
    best = F.aggregate(
        F.array(*cands[1:]),
        cands[0],
        lambda acc, x: F.when(x["score"] > acc["score"], x).otherwise(acc),
    )
    return F.when(
        (n_words > 0) & (best["score"] > 0.02), best["lang"]
    ).otherwise(F.lit("und"))


# ------------------------------------------------------------- fingerprint
def fingerprint_col(
    text: Column, k: int = 4, window: int = 8, keep: int = 16
) -> Column:
    """Winnowing document fingerprint as a pure Column expression
    (oracle-checkable): md5 each word-k-gram, take the rolling
    ``window``-min (lexicographic on the hex strings — a valid total
    order for winnowing), md5 the first ``keep`` distinct minima in
    sorted order. Robust to local edits, and shared verbatim with DuckDB
    (md5 + list ops on both sides)."""
    words = F.split(F.trim(text), r"\s+")
    n = F.greatest(F.size(words) - (k - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.md5(F.concat_ws(" ", F.slice(words, i + 1, k)).cast("binary")),
    )
    m = F.greatest(F.size(grams) - (window - 1), F.lit(1))
    mins = F.transform(
        F.sequence(F.lit(0), m - 1), lambda j: F.array_min(F.slice(grams, j + 1, window))
    )
    sel = F.slice(F.array_sort(F.array_distinct(mins)), 1, keep)
    return F.md5(F.concat_ws("", sel).cast("binary"))


# ------------------------------------------------------- repetition signals
def lines_arr_col(text: Column) -> Column:
    """The ONE definition of "lines of a document" shared by every
    line-granular operator (repetition_signals here,
    dedup.dedup_lines_corpus): '\\n'-split, space-trimmed, empties
    dropped. DuckDB mirror: trim each element of
    ``string_split(text, chr(10))``, filter != ''. Keep the rule in one
    place so C4 line dedup and Gopher line-repetition always agree on
    what a line is.

    The transform lambda MUST be single-arg: ``F.transform(arr, F.trim)``
    silently binds the element INDEX as trim's second (trimStr!)
    parameter in Spark 4, stripping index-digit characters off line
    ends ('unique payload 91' at index 1 -> 'unique payload 9') —
    caught by test_dedup_lines_hot_line_is_pure_aggregation."""
    return F.filter(
        F.transform(F.split(text, "\n"), lambda ln: F.trim(ln)),
        lambda ln: ln != "",
    )


def paragraphs_arr_col(text: Column) -> Column:
    """The ONE definition of "paragraphs of a document" (the C4 rule
    actually removes multi-sentence SPANS, not single lines — blank-line
    blocks are the document-structure analog): split on blank lines
    (``\\n\\s*\\n`` — one or more empty/whitespace-only lines collapse
    into one boundary), btrim each block of edge whitespace
    (space/tab/CR/LF — paragraph identity must not hinge on a trailing
    newline), drop empties. Internal newlines inside a paragraph are
    preserved verbatim. DuckDB mirror: string_split_regex + trim(p,
    ' '||chr(9)||chr(13)||chr(10)); Python mirror: re.split +
    .strip(' \\t\\r\\n')."""
    return F.filter(
        F.transform(
            F.split(text, r"\n\s*\n"), lambda p: F.btrim(p, F.lit(" \t\r\n"))
        ),
        lambda p: p != "",
    )


def repetition_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style intra-document repetition signals — the filters a
    pretraining pipeline applies before tokenization to drop template/
    boilerplate-looped pages:

      dup_line_frac       = repeated-line occurrences / total lines
      dup_line_char_frac  = chars in lines whose line repeats / line chars
      top_2gram_char_frac = chars covered by the most frequent word
                            2-gram / word chars (count * gram chars,
                            capped at 1.0 — overlapping occurrences of
                            a periodic gram would otherwise overcount)

    Lines are '\\n'-split, space-trimmed, empties dropped; 2-grams use
    the whitespace tokenization of token_count_col. Returns one row per
    input doc (docs with no lines / <2 words score 0.0). All values
    round(_, 4) — SQL-expressible and oracle-checked in DuckDB.

    Scale: two explodes -> hash aggregations (partial map-side combine)
    + one per-doc window on the vocabulary-sized 2-gram counts — the
    tfidf_topk_terms shape; no O(n_lines^2) array scans, no collect.
    """
    from pyspark.sql import Window

    lines = lines_arr_col(F.col(text_col))
    per_line = (
        docs.select(F.col(id_col), F.explode(lines).alias("line"))
        .groupBy(id_col, "line")
        .agg(F.count("*").alias("cnt"), F.length("line").alias("len"))
    )
    line_sig = per_line.groupBy(id_col).agg(
        F.sum("cnt").alias("n_lines"),
        F.round(
            (F.sum("cnt") - F.count("*")) / F.sum("cnt"), 4
        ).alias("dup_line_frac"),
        F.round(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt") * F.col("len")).otherwise(0))
            / F.sum(F.col("cnt") * F.col("len")),
            4,
        ).alias("dup_line_char_frac"),
    )
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - 1, F.lit(1)) - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, 2)),
    )
    per_gram = (
        docs.filter(F.size(words) >= 2)
        .select(F.col(id_col), F.length(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", "")).alias("word_chars"), F.explode(grams).alias("gram"))
        .groupBy(id_col, "word_chars", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cnt"), F.asc("gram"))
    top_gram = (
        per_gram.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col(id_col),
            F.round(
                F.least(
                    F.lit(1.0),
                    # gram chars minus the joiner space; capped at 1 —
                    # overlapping occurrences of a periodic gram ('a a
                    # a a' -> 'a a' x3) overcount the covered chars
                    F.col("cnt") * (F.length("gram") - 1) / F.col("word_chars"),
                ),
                4,
            ).alias("top_2gram_char_frac"),
        )
    )
    base = docs.select(F.col(id_col))
    return (
        base.join(line_sig, id_col, "left")
        .join(top_gram, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("dup_line_frac", F.lit(0.0)).alias("dup_line_frac"),
            F.coalesce("dup_line_char_frac", F.lit(0.0)).alias("dup_line_char_frac"),
            F.coalesce("top_2gram_char_frac", F.lit(0.0)).alias("top_2gram_char_frac"),
        )
    )


# ------------------------------------------------------------ gopher rules
# The Gopher rule-based quality filter (Rae et al. 2021, "Scaling
# Language Models: Methods, Analysis & Insights from Training Gopher",
# Appendix A.1.1) — the standard pre-tokenization heuristic gate a web
# corpus passes BEFORE the learned classifier. Shared constants: the
# oracle SQL is GENERATED from these (the pricing/stopword-table
# discipline) — edit the table, never the SQL.
GOPHER_STOP_WORDS = ("and", "be", "have", "that", "the", "to", "of", "with")
GOPHER_DEFAULTS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "min_alpha_word_frac": 0.8,
    "min_stop_words": 2,
}
_BULLET_RE = r"^[-*•‣▪]"  # -, *, •, ‣, ▪ at trimmed-line start
_ELLIPSIS_RE = r"(\.\.\.|…)$"


def gopher_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **thresholds: float,
) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021 App. A1.1):
    per-doc signal columns plus a ``keep`` flag that ANDs the rules —

      n_words            in [min_words, max_words]
      mean_word_len      in [min_mean_word_len, max_mean_word_len]
      symbol_word_ratio  (# of '#', '…' and literal '...' / words)
                         <= max_symbol_word_ratio
      bullet_line_frac   (lines starting with a bullet mark)
                         <= max_bullet_line_frac
      ellipsis_line_frac (lines ending '…'/'...')
                         <= max_ellipsis_line_frac
      alpha_word_frac    (whitespace tokens containing [A-Za-z])
                         >= min_alpha_word_frac
      n_stop_words       (DISTINCT ``GOPHER_STOP_WORDS`` present as
                         ``word_tokens_col`` tokens) >= min_stop_words

    Identity rules shared with the rest of the module: lines are
    ``lines_arr_col`` (the C4-dedup line rule), stop matching uses
    ``word_tokens_col`` (the lang-ID/classifier tokenizer), word count
    is ``token_count_col``. NULL text is coalesced to '' (one empty
    whitespace token — the established quality_filter convention), and
    every decision compares the ROUND(_, 4) value so Spark and the
    generated DuckDB oracle gate on identical numbers.

    Thresholds default to the paper's values; pass keyword overrides
    (e.g. ``min_stop_words=1`` on a synthetic corpus whose vocabulary
    carries a single stop word). Unknown keys raise.

    Scale: a stateless single-pass Column projection — zero exchanges,
    zero Python workers, whole-stage codegen end to end; filters on
    ``keep`` push down to the scan. Reference has no analog (builder
    brief: pretraining-curation extension, like pii_scrub text.py:435).
    """
    unknown = set(thresholds) - set(GOPHER_DEFAULTS)
    if unknown:
        raise ValueError(f"unknown gopher thresholds: {sorted(unknown)}")
    th = {**GOPHER_DEFAULTS, **thresholds}

    text = F.coalesce(F.col(text_col), F.lit(""))
    words = F.split(F.trim(text), r"\s+")
    n_words = F.size(words)
    mean_word_len = F.round(
        F.length(F.regexp_replace(text, r"\s", "")) / n_words, 4
    )
    n_symbols = (
        (F.length(text) - F.length(F.replace(text, F.lit("#"))))
        + (F.length(text) - F.length(F.replace(text, F.lit("…"))))
        + (F.length(text) - F.length(F.replace(text, F.lit("...")))) / 3
    )
    symbol_word_ratio = F.round(n_symbols / n_words, 4)
    lines = lines_arr_col(text)
    n_lines = F.size(lines)
    bullet_line_frac = F.when(n_lines > 0, F.round(
        F.size(F.filter(lines, lambda ln: ln.rlike(_BULLET_RE))) / n_lines, 4
    )).otherwise(F.lit(0.0))
    ellipsis_line_frac = F.when(n_lines > 0, F.round(
        F.size(F.filter(lines, lambda ln: ln.rlike(_ELLIPSIS_RE))) / n_lines, 4
    )).otherwise(F.lit(0.0))
    alpha_word_frac = F.round(
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / n_words, 4
    )
    stops = F.array(*[F.lit(s) for s in GOPHER_STOP_WORDS])
    n_stop_words = F.size(F.array_intersect(word_tokens_col(text), stops))

    out = docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_word_ratio.alias("symbol_word_ratio"),
        bullet_line_frac.alias("bullet_line_frac"),
        ellipsis_line_frac.alias("ellipsis_line_frac"),
        alpha_word_frac.alias("alpha_word_frac"),
        n_stop_words.alias("n_stop_words"),
    )
    keep = (
        (F.col("n_words") >= th["min_words"])
        & (F.col("n_words") <= th["max_words"])
        & (F.col("mean_word_len") >= th["min_mean_word_len"])
        & (F.col("mean_word_len") <= th["max_mean_word_len"])
        & (F.col("symbol_word_ratio") <= th["max_symbol_word_ratio"])
        & (F.col("bullet_line_frac") <= th["max_bullet_line_frac"])
        & (F.col("ellipsis_line_frac") <= th["max_ellipsis_line_frac"])
        & (F.col("alpha_word_frac") >= th["min_alpha_word_frac"])
        & (F.col("n_stop_words") >= th["min_stop_words"])
    )
    return out.withColumn("keep", keep)


def gopher_rules_oracle_sql(**thresholds: float) -> str:
    """The DuckDB mirror of ``gopher_rules``, GENERATED from the same
    ``GOPHER_DEFAULTS``/``GOPHER_STOP_WORDS`` tables and threshold
    overrides the Spark query uses — the two engines cannot drift."""
    unknown = set(thresholds) - set(GOPHER_DEFAULTS)
    if unknown:
        raise ValueError(f"unknown gopher thresholds: {sorted(unknown)}")
    th = {**GOPHER_DEFAULTS, **thresholds}
    stops = ", ".join(f"'{s}'" for s in GOPHER_STOP_WORDS)
    return f"""
        WITH base AS (
          SELECT doc_id, coalesce(text, '') AS text FROM documents
        ), feat AS (
          SELECT doc_id,
            length(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
            round(length(regexp_replace(text, '\\s', '', 'g'))
                  / length(regexp_split_to_array(trim(text), '\\s+')), 4)
              AS mean_word_len,
            (length(text) - length(replace(text, '#', '')))
              + (length(text) - length(replace(text, chr(8230), '')))
              + (length(text) - length(replace(text, '...', ''))) / 3
              AS n_symbols,
            list_filter(list_transform(string_split(text, chr(10)),
                                       l -> trim(l)), l -> l != '') AS lines,
            regexp_split_to_array(trim(text), '\\s+') AS ws,
            list_filter(string_split(regexp_replace(lower(text),
              '[^a-záàâãéêíóôõúüçñ]+', ' ', 'g'), ' '), w -> w != '') AS toks
          FROM base
        ), sig AS (
          SELECT doc_id, n_words, mean_word_len,
            round(n_symbols / n_words, 4) AS symbol_word_ratio,
            CASE WHEN len(lines) > 0 THEN round(
              len(list_filter(lines, l -> regexp_matches(l, '{_BULLET_RE}')))
                / len(lines), 4) ELSE 0.0 END AS bullet_line_frac,
            CASE WHEN len(lines) > 0 THEN round(
              len(list_filter(lines, l -> regexp_matches(l, '{_ELLIPSIS_RE}')))
                / len(lines), 4) ELSE 0.0 END AS ellipsis_line_frac,
            round(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
                  / n_words, 4) AS alpha_word_frac,
            len(list_distinct(list_intersect(toks, [{stops}])))
              AS n_stop_words
          FROM feat
        )
        SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
               bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
               n_stop_words,
               (n_words >= {th["min_words"]}
                AND n_words <= {th["max_words"]}
                AND mean_word_len >= {th["min_mean_word_len"]}
                AND mean_word_len <= {th["max_mean_word_len"]}
                AND symbol_word_ratio <= {th["max_symbol_word_ratio"]}
                AND bullet_line_frac <= {th["max_bullet_line_frac"]}
                AND ellipsis_line_frac <= {th["max_ellipsis_line_frac"]}
                AND alpha_word_frac >= {th["min_alpha_word_frac"]}
                AND n_stop_words >= {th["min_stop_words"]}) AS keep
        FROM sig
    """


# ---------------------------------------------------------------- C4 line filter
# The C4 line-cleaning rule tables (Raffel et al. 2020 §2.2) — shared
# verbatim by the Spark operator and the generated DuckDB oracle, so the
# two engines cannot drift. Substring matching is lowercase-contains.
C4_TERMINAL_PUNCT_RE = r'[.!?"]$'
C4_BAD_LINE_SUBSTRINGS = ("javascript",)
C4_BAD_DOC_SUBSTRINGS = ("lorem ipsum", "{")
C4_DEFAULTS = {"min_line_words": 5, "min_kept_lines": 3}


def c4_line_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **thresholds: int,
) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2): keep only lines
    that end in a terminal punctuation mark (``C4_TERMINAL_PUNCT_RE``),
    have at least ``min_line_words`` whitespace words, and contain none
    of ``C4_BAD_LINE_SUBSTRINGS`` (lowercase-contains — the paper's
    "javascript" rule); rebuild the document from the survivors
    (newline-joined). The DOC-level gate then keeps a page iff it
    retains at least ``min_kept_lines`` lines and its ORIGINAL text
    contains none of ``C4_BAD_DOC_SUBSTRINGS`` (the paper's
    "lorem ipsum" / curly-brace rules). Returns
    (id, clean_text, n_lines, n_kept_lines, keep).

    Lines are ``lines_arr_col`` — the ONE line identity rule shared
    with dedup_lines_corpus / repetition_signals, so C4 cleaning and C4
    dedup always agree on what a line is. NULL text coalesces to ''
    (0 lines, keep=false). Thresholds default to the paper's values;
    unknown keys raise.

    Scale: a stateless single-pass Column projection — zero exchanges,
    zero Python workers, whole-stage codegen; composes with streaming
    ingest like pii_scrub/gopher_rules. Reference has no analog
    (builder-brief pretraining-curation extension).
    """
    unknown = set(thresholds) - set(C4_DEFAULTS)
    if unknown:
        raise ValueError(f"unknown c4 thresholds: {sorted(unknown)}")
    th = {**C4_DEFAULTS, **thresholds}

    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = lines_arr_col(text)

    def line_ok(ln):
        cond = ln.rlike(C4_TERMINAL_PUNCT_RE) & (
            F.size(F.split(ln, r"\s+")) >= th["min_line_words"]
        )
        for s in C4_BAD_LINE_SUBSTRINGS:
            cond = cond & ~F.contains(F.lower(ln), F.lit(s))
        return cond

    kept = F.filter(lines, lambda ln: line_ok(ln))
    doc_ok = F.size(kept) >= th["min_kept_lines"]
    for s in C4_BAD_DOC_SUBSTRINGS:
        doc_ok = doc_ok & ~F.contains(F.lower(text), F.lit(s))
    return docs.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        doc_ok.alias("keep"),
    )


def c4_line_filter_oracle_sql(
    source: str = "SELECT doc_id, text FROM documents",
    **thresholds: int,
) -> str:
    """The DuckDB mirror of ``c4_line_filter``, GENERATED from the same
    rule tables and threshold overrides the Spark query uses. ``source``
    is the (doc_id, text) relation — driver queries that inject line
    structure pass the same transformed SELECT both engines run."""
    unknown = set(thresholds) - set(C4_DEFAULTS)
    if unknown:
        raise ValueError(f"unknown c4 thresholds: {sorted(unknown)}")
    th = {**C4_DEFAULTS, **thresholds}
    bad_line = "".join(
        f" AND NOT contains(lower(l), '{s}')" for s in C4_BAD_LINE_SUBSTRINGS
    )
    bad_doc = "".join(
        f" AND NOT contains(lower(text), '{s}')" for s in C4_BAD_DOC_SUBSTRINGS
    )
    return f"""
        WITH base AS (
          SELECT doc_id, coalesce(text, '') AS text FROM ({source})
        ), feat AS (
          SELECT doc_id, text,
            list_filter(list_transform(string_split(text, chr(10)),
                                       l -> trim(l)), l -> l != '') AS lines
          FROM base
        ), sig AS (
          SELECT doc_id, text, lines,
            list_filter(lines, l ->
              regexp_matches(l, '{C4_TERMINAL_PUNCT_RE}')
              AND len(regexp_split_to_array(l, '\\s+'))
                    >= {th["min_line_words"]}{bad_line}) AS kept
          FROM feat
        )
        SELECT doc_id,
               -- DuckDB array_to_string([]) is NULL; Spark array_join is ''
               coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
               len(lines) AS n_lines,
               len(kept) AS n_kept_lines,
               (len(kept) >= {th["min_kept_lines"]}{bad_doc}) AS keep
        FROM sig
    """


# ---------------------------------------------------------------- HTML -> text
def html_extract(
    docs: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """HTML-to-text extraction — the upstream-most step of a web-crawl
    pretraining pipeline (WET-style payload -> plain text), as a pure
    Column fold of ``HTML_STRIP_STEPS`` (extraction/html.py, the one
    HTML -> text spec the pipeline folds in Python), then canonicalize
    lines with ``lines_arr_col`` — the ONE line identity
    rule shared with c4_line_filter/dedup_lines_corpus, so cleaning and
    dedup downstream agree on what a line is.

    Returns (id, text, n_lines, text_density): text is the
    newline-joined kept lines, n_lines their count, text_density =
    round(len(text)/len(html), 4) — the classic boilerplate signal
    (NULL for NULL/'' input, which yields text '' and 0 lines).

    This is a lexical extractor, not a DOM parser: unclosed tags strip
    to the next '>', malformed markup degrades deterministically and
    IDENTICALLY in all three engines (the step table is the spec).
    Reference has no analog (builder-brief web-corpus extension).

    Scale: stateless single-pass codegen projection — zero exchanges,
    zero Python workers; composes with streaming ingest like
    pii_scrub/c4_line_filter (stream==batch tested).
    """
    raw = F.coalesce(F.col(html_col), F.lit(""))
    t = raw
    for kind, pat, rep in HTML_STRIP_STEPS:
        if kind == "re":
            t = F.regexp_replace(t, pat, rep)
        else:
            t = F.replace(t, F.lit(pat), F.lit(rep))
    lines = lines_arr_col(t)
    text = F.array_join(lines, "\n")
    return docs.select(
        F.col(id_col),
        text.alias("text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.when(
            F.length(raw) > 0, F.round(F.length(text) / F.length(raw), 4)
        ).alias("text_density"),
    )


def html_extract_oracle_sql(
    source: str = "SELECT doc_id, html FROM documents",
) -> str:
    """DuckDB mirror of ``html_extract``, GENERATED by folding the same
    ``HTML_STRIP_STEPS`` chain into nested regexp_replace/replace calls
    (edit the step table, never this SQL). Newline replacements go
    through chr(10) (a raw newline inside a SQL literal would survive,
    but chr(10) reads unambiguously); quotes are SQL-escaped."""

    def lit(s: str) -> str:
        return "chr(10)" if s == "\n" else "'" + s.replace("'", "''") + "'"

    expr = "raw"
    for kind, pat, rep in HTML_STRIP_STEPS:
        if kind == "re":
            expr = f"regexp_replace({expr}, {lit(pat)}, {lit(rep)}, 'g')"
        else:
            expr = f"replace({expr}, {lit(pat)}, {lit(rep)})"
    return f"""
        WITH base AS (
          SELECT doc_id, coalesce(html, '') AS raw FROM ({source})
        ), clean AS (
          SELECT doc_id, raw,
            list_filter(list_transform(string_split({expr},
              chr(10)), l -> trim(l)), l -> l != '') AS lines
          FROM base
        )
        SELECT doc_id,
               -- DuckDB array_to_string([]) is NULL; Spark array_join is ''
               coalesce(array_to_string(lines, chr(10)), '') AS text,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CASE WHEN length(raw) > 0 THEN
                 round(length(coalesce(array_to_string(lines, chr(10)), ''))
                       / length(raw), 4)
               END AS text_density
        FROM clean
    """


# ----------------------------------------------------------- HTML -> links
# Lexical link rule (the common regex dialect of extraction/html.py): a
# double-quoted href anywhere in the <a ...> attribute list, lazy anchor
# body across newlines. Single-quoted/unquoted hrefs are deliberately NOT
# matched — the rule is a deterministic lexical spec shared by all three
# engines, not a DOM parser (same stance as HTML_STRIP_STEPS).
_HTML_LINK_RE = (
    f"(?s)<{ascii_ci('a')}{ASCII_SPACE}[^>]*{ascii_ci('href')}{ASCII_SPACE}*={ASCII_SPACE}*"
    f'"([^"]*)"[^>]*>(.*?)</{ascii_ci("a")}>'
)

# Anchor/href cleanup: the entity-unescape tail of HTML_STRIP_STEPS (same
# ordering invariant: &amp; last), plus inner-tag strip and horizontal
# whitespace collapse for the anchor body.
_LINK_ENTITY_STEPS: tuple[tuple[str, str], ...] = tuple(
    (pat, rep) for kind, pat, rep in HTML_STRIP_STEPS if kind == "lit"
)


def html_links(
    docs: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """Hyperlink extraction — the web-graph construction step of a crawl
    pipeline (outlink edges feed ``graph.pagerank`` and the URL gates in
    ``domain_blocklist_filter``): pull every double-quoted-href anchor
    via ONE regex (``_HTML_LINK_RE``) applied twice (group 1 = href,
    group 2 = anchor body — identical match positions by construction,
    so positional indexing aligns them), posexplode to one row per link, then
    clean: href gets the entity unescapes (URLs in markup encode & as
    &amp;), the anchor body additionally drops inner tags and collapses
    whitespace to the trimmed display text.

    Returns (id, link_no 0-based in document order, href, anchor).
    Documents with no links (or NULL html) emit no rows in BOTH engines
    (posexplode/UNNEST of an empty list). Reference has no analog
    (builder-brief web-corpus extension).

    Scale: stateless generate+project — zero exchanges, zero Python
    workers; fan-out is links-per-page (bounded ~O(100) on real pages),
    so no hot-key cap is needed.
    """
    raw = F.coalesce(F.col(html_col), F.lit(""))
    pat = F.lit(_HTML_LINK_RE)
    out = docs.select(
        F.col(id_col),
        F.regexp_extract_all(raw, pat, F.lit(2)).alias("_anchors"),
        F.posexplode(F.regexp_extract_all(raw, pat, F.lit(1))).alias(
            "link_no", "_href"
        ),
    )
    # the two extracts share one pattern, so positions align exactly
    href = F.col("_href")
    anchor = F.regexp_replace(
        F.element_at(F.col("_anchors"), F.col("link_no") + 1),
        r"<[^>]*>",
        " ",
    )
    for pat_s, rep_s in _LINK_ENTITY_STEPS:
        href = F.replace(href, F.lit(pat_s), F.lit(rep_s))
        anchor = F.replace(anchor, F.lit(pat_s), F.lit(rep_s))
    anchor = F.trim(F.regexp_replace(anchor, r"[ \t\r\n]+", " "))
    return out.select(
        F.col(id_col),
        F.col("link_no").cast("long").alias("link_no"),
        href.alias("href"),
        anchor.alias("anchor"),
    )


def html_links_py(html: str | None) -> list[tuple[int, str, str]]:
    """Pure-Python reference of ``html_links`` (pytest ground truth):
    same regex via re.findall, same cleanup steps."""
    out = []
    for i, (href, anchor) in enumerate(re.findall(_HTML_LINK_RE, html or "")):
        anchor = re.sub(r"<[^>]*>", " ", anchor)
        for pat, rep in _LINK_ENTITY_STEPS:
            href = href.replace(pat, rep)
            anchor = anchor.replace(pat, rep)
        anchor = re.sub(r"[ \t\r\n]+", " ", anchor).strip(" ")
        out.append((i, href, anchor))
    return out


def html_links_oracle_sql(
    source: str = "SELECT doc_id, html FROM documents",
) -> str:
    """DuckDB mirror of ``html_links``, GENERATED from the same regex
    and entity-step table. 1-based list indexing over a range UNNEST
    (the chunk_oracle_sql recipe) — shifted to Spark's 0-based
    posexplode; the two extracts have equal length by construction
    (same pattern, different group)."""
    href_expr = "hrefs[i]"
    anchor_expr = "regexp_replace(anchors[i], '<[^>]*>', ' ', 'g')"
    for pat, rep in _LINK_ENTITY_STEPS:
        q_pat, q_rep = pat.replace("'", "''"), rep.replace("'", "''")
        href_expr = f"replace({href_expr}, '{q_pat}', '{q_rep}')"
        anchor_expr = f"replace({anchor_expr}, '{q_pat}', '{q_rep}')"
    link_re = _HTML_LINK_RE.replace("'", "''")
    return f"""
        WITH base AS (
          SELECT doc_id, coalesce(html, '') AS raw FROM ({source})
        ), z AS (
          SELECT doc_id,
                 regexp_extract_all(raw, '{link_re}', 1) AS hrefs,
                 regexp_extract_all(raw, '{link_re}', 2) AS anchors
          FROM base
        )
        SELECT doc_id,
               CAST(i - 1 AS BIGINT) AS link_no,
               {href_expr} AS href,
               trim(regexp_replace({anchor_expr},
                                   '[ \\t\\r\\n]+', ' ', 'g'), ' ') AS anchor
        FROM z, UNNEST(range(1, len(hrefs) + 1)) AS t(i)
    """


# ---------------------------------------------------------------- tf-idf
def tfidf_topk_terms(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k TF-IDF terms per document — the keyword/topic-signal
    extraction step of a corpus-analysis pipeline, pure DataFrame ops:

      tf(w, d)  = count of w in d / #words in d
      idf(w)    = ln(N / df(w)),  df = #docs containing w
      score     = round(tf * idf, 6)

    ranked per doc by (score DESC, term ASC) — the ROUNDED score is the
    sort key on BOTH the Spark and oracle sides, so a 1-ulp ln()
    difference between engines cannot reorder near-ties at the k cutoff.
    Tokenization matches lang_id_col ([a-z+accents]+ of the lowered
    text). N comes from a broadcast 1-row aggregate (no driver action).

    Scale: explode -> two hash aggregations (per-(doc, term), then
    per-term df) + one per-doc window. The df table is vocabulary-sized;
    the window partitions by doc (bounded rows per doc). No collect.
    """
    from pyspark.sql import Window

    words = word_tokens_col(F.col(text_col))
    toks = docs.select(F.col(id_col), F.explode(words).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf_cnt"))
    doc_len = toks.groupBy(id_col).agg(F.count("*").alias("n_words"))
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(doc_len, id_col)
        .join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                (F.col("tf_cnt") / F.col("n_words"))
                * F.log(F.col("n_docs") / F.col("df")),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "score", "rank")
    )


# ------------------------------------------------------------- pii scrubbing
# Patterns restricted to syntax that parses AND matches identically under
# Java regex (Spark), RE2 (DuckDB), and Python re: character classes,
# bounded repeats, non-capturing groups, \b word boundaries — no
# backreferences/lookaround (RE2 lacks them). Order matters: emails first
# (their local parts contain digits), then IPv4, then phones; replacement
# tokens are digit-free so a later pattern can never match inside an
# earlier substitution. The phone alternates start with mutually exclusive
# characters ('+', '(', digit), so Java/RE2 leftmost-first alternation
# order can never diverge between engines.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("emails", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4s", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (
        "phones",
        r"\+\d{1,3}[ -]\d{3}[ -]?\d{4}\b"  # international: +1 555-0100
        r"|\(\d{3}\) ?\d{3}-\d{4}\b"  # US paren: (555) 123-4567
        r"|\b\d{3}-\d{3}-\d{4}\b",  # US dashed: 555-123-4567
        "<PHONE>",
    ),
]


def pii_scrub(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    patterns: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """PII redaction — the pre-release scrub every pretraining corpus
    gets (the C4/FineWeb email/IP/phone rule): replace each pattern
    with its digit-free token and count the hits. Returns one row per
    doc: (id, n_<name> per pattern, text_redacted).

    Count semantics: each ``n_<name>`` counts pattern hits in the RAW
    input text, not substitutions performed — a match consumed by an
    earlier replacement (an IPv4 inside an email domain like
    a@10.0.0.7.net) is still counted but yields no token in
    ``text_redacted``. The DuckDB oracle shares this rule exactly.

    Pure Column pipeline (regexp_count + chained regexp_replace —
    whole-stage codegen, no Python workers, no shuffle at all: a
    stateless map that composes with any downstream op). The default
    patterns are deliberately conservative (precision over recall —
    a false positive deletes training signal); pass ``patterns`` to
    extend (SSNs, IBANs, street addresses...).
    """
    pats = PII_PATTERNS if patterns is None else patterns
    cols = [F.col(id_col)]
    red = F.col(text_col)
    for name, pat, token in pats:
        cols.append(F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}"))
        red = F.regexp_replace(red, pat, token)
    return docs.select(*cols, red.alias("text_redacted"))


# --------------------------------------------- hashed-n-gram quality model
# Demo coefficient table for quality_classifier_score — a stand-in for a
# trained fastText/CCNet-style linear model (the caller supplies real
# coefficients in production; this table exists so tests and the DuckDB
# oracle exercise the full scoring path with nontrivial weights). Values
# are multiples of 2^-10 in [-0.5, 0.5]: dyadic rationals sum EXACTLY in
# IEEE doubles regardless of fold order, so the Spark left-fold and the
# DuckDB list_sum produce bit-identical logits and round(,4) parity can
# never hinge on summation order. Generated, never hand-edited — the
# oracle SQL embeds this same table at build time (CLAUDE.md invariant).
QUALITY_CLF_DIM = 64
QUALITY_CLF_WEIGHTS: tuple[float, ...] = tuple(
    round(math.sin((i + 1) * 2.399) * 512) / 1024 for i in range(QUALITY_CLF_DIM)
)
QUALITY_CLF_BIAS = -0.25


def quality_classifier_score(
    docs: DataFrame,
    weights: tuple[float, ...] | None = None,
    bias: float = QUALITY_CLF_BIAS,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Linear quality-classifier scoring over hashed uni+bigram features
    — the CCNet / GPT-3-style "does this page look like quality text"
    filter (Wenzek et al. 2020; Brown et al. 2020 §A): each document is
    featurized as word unigrams + adjacent-word bigrams, each term is
    hashed into one of ``len(weights)`` buckets (the fastText hashing
    trick — no vocabulary table at all), and

        score = sigmoid(bias + sum_t weights[bucket(t)])

    Returns (id, n_terms, quality_score) with the score rounded to 4
    decimals. Curation gates on a threshold (or uses the score as a
    sampling temperature, the GPT-3 Pareto trick) downstream.

    Tokenization matches tfidf_topk_terms/lang_id_col ([a-z+accents]+
    of the lowered text); the bucket hash is the repo's cross-engine
    md5 recipe (curation.hash_shard_col), so the generated DuckDB
    oracle replays the identical featurization. Weights default to the
    QUALITY_CLF_WEIGHTS demo table; pass trained coefficients (their
    dyadic-rational rounding is the caller's concern — see the table
    comment for why exactness matters to oracle parity).

    Scale: a pure per-row Column expression — transform/aggregate
    higher-order functions over the term array, the weight table inlined
    as an array literal (bucket lookup is element_at, no join). ZERO
    exchanges, no Python workers, composes with streaming; the scoring
    of 100 TB is exactly one codegen'd map over the corpus.
    """
    from nous_spark.operators.curation import hash_shard_col

    w = QUALITY_CLF_WEIGHTS if weights is None else weights
    n_buckets = len(w)
    # NULL text scores as empty (n_terms 0, sigmoid(bias)) — matching
    # the DuckDB oracle's NULL-list coalescing, not Spark's size()=-1
    toks = word_tokens_col(F.coalesce(F.col(text_col), F.lit("")))
    docs = docs.withColumn("_tk", toks)
    bigrams = F.when(
        F.size("_tk") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_tk") - 1),
            lambda i: F.concat_ws(
                "_", F.element_at(F.col("_tk"), i), F.element_at(F.col("_tk"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    terms = F.concat(F.col("_tk"), bigrams)
    w_arr = F.array(*[F.lit(float(x)) for x in w])
    logit = F.aggregate(
        terms,
        F.lit(float(bias)),
        lambda acc, t: acc
        + F.element_at(w_arr, (hash_shard_col(t, n_buckets, seed) + 1).cast("int")),
    )
    return docs.select(
        F.col(id_col),
        F.size(terms).alias("n_terms"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 4).alias("quality_score"),
    )


def uni_bigram_terms_col(text: Column) -> Column:
    """Hashed-feature term array shared by the importance sampler (and
    featurization-identical to quality_classifier_score): word unigrams
    (``word_tokens_col``) plus adjacent-word bigrams joined with '_'.
    NULL handling is the CALLER's job (coalesce text to '' first)."""
    tk = word_tokens_col(text)
    bigrams = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 1),
            lambda i: F.concat_ws("_", F.element_at(tk, i), F.element_at(tk, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(tk, bigrams)


def micro_mean_4dp(micro: int, n: int) -> float:
    """round(micro / 1e6 / n, 4) half away from zero in exact integer
    arithmetic (a double quotient lands on either side of ties: 7001700/6
    is 1.167 in Spark and DuckDB, 1.1669 in Python); never -0.0. Python
    reference of the Column and DuckDB twins below."""
    q = (2 * abs(micro) + 100 * n) // (200 * n)
    return (-q if micro < 0 else q) / 1e4


def micro_mean_4dp_col(micro: Column, n: Column) -> Column:
    q = F.call_function("div", 2 * F.abs(micro) + 100 * n, 200 * n)
    return F.when(micro < 0, -q).otherwise(q) / F.lit(1e4)


def micro_mean_4dp_sql(micro: str, n: str) -> str:
    # DuckDB sign() of an integer is an integer, so a zero quotient stays +0
    return f"(sign({micro}) * ((2 * abs({micro}) + 100 * {n}) // (200 * {n})) / 1e4)"


def dsir_log_ratio_score(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """DSIR importance scoring (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw doc by
    how target-domain-like its hashed n-gram statistics are,

        w(doc) = sum over term occurrences t of
                   ln P_target(bucket(t)) - ln P_raw(bucket(t))

    with add-one-smoothed bucket unigram models
    P(b) = (count(b) + 1) / (total + n_buckets). High scores = looks
    like the target domain; downstream resamples by weight (e.g. the
    ``quality_weighted_sample`` Pareto rule or a top-fraction cut on
    the exact integer score with id tiebreak).

    Featurization: hashed word uni+bigrams, ``uni_bigram_terms_col`` —
    the fastText hashing trick, identical to quality_classifier_score —
    bucketed by the cross-engine md5 recipe (curation.hash_shard_col).
    Returns one row per raw doc: (id, n_terms, dsir_micro,
    avg_log_ratio) where dsir_micro is the EXACT integer sum of
    per-bucket round(log-ratio * 1e6) micro-nats (fold-order-
    independent, the corpus_lm_nll discipline; round() is half-away-
    from-zero in Spark, DuckDB and Python alike, so the negative
    weights round identically too) and avg_log_ratio =
    micro_mean_4dp(dsir_micro, n_terms), NULL for term-less docs
    (n_terms 0). NULL text is coalesced to '' on both corpora.

    Scale: both count tables aggregate to <= n_buckets rows (map-side
    combine collapses every task to the table size) and are eagerly
    localCheckpointed — the totals and the weight join derive from the
    tiny tables, not corpus re-scans (the multi-consumer ReusedExchange
    lesson); weights broadcast into the scoring pass. At 100 TB the
    full-data costs are one raw-corpus scan for counts, one target-
    corpus scan (the target is typically MB-scale curated text), one
    raw scan for scoring, and a column-pruned id-only scan for the
    zero-term left join. No windows, no pairs, no collect. Eager, like
    the other corpus-trained operators. Reference has no analog
    (builder brief: pretraining-curation extension)."""
    terms = uni_bigram_terms_col(F.coalesce(F.col(text_col), F.lit("")))

    def occ(src: DataFrame) -> DataFrame:
        from nous_spark.operators.curation import hash_shard_col

        return src.select(
            F.col(id_col), F.explode(terms).alias("t")
        ).select(F.col(id_col), hash_shard_col(F.col("t"), n_buckets, seed).alias("b"))

    raw_occ = occ(docs)
    raw_cnt = (
        raw_occ.groupBy("b").agg(F.count("*").alias("rc")).localCheckpoint(eager=True)
    )
    tgt_cnt = (
        occ(target).groupBy("b").agg(F.count("*").alias("tc"))
        .localCheckpoint(eager=True)
    )
    raw_tot = raw_cnt.agg(F.sum("rc").alias("rt"))
    tgt_tot = tgt_cnt.agg(F.coalesce(F.sum("tc"), F.lit(0)).alias("tt"))
    weights = (
        raw_cnt.join(tgt_cnt, "b", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "b",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("tc"), F.lit(0)) + 1)
                        / (F.col("tt") + n_buckets)
                    )
                    - F.log((F.col("rc") + 1) / (F.col("rt") + n_buckets))
                )
                * 1e6
            )
            .cast("long")
            .alias("wm"),
        )
    )
    agg = (
        raw_occ.join(F.broadcast(weights), "b")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_terms"), F.sum("wm").alias("dsir_micro"))
    )
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_terms", F.lit(0)).alias("n_terms"),
            F.coalesce("dsir_micro", F.lit(0)).alias("dsir_micro"),
            # NULL (term-less doc) when the left join found no row
            micro_mean_4dp_col(F.col("dsir_micro"), F.col("n_terms")).alias("avg_log_ratio"),
        )
    )


def corpus_lm_nll(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-trained character-bigram LM typicality scoring — the
    language-model-perplexity filter of the CCNet recipe (Wenzek et al.
    2020 use a KenLM 5-gram; this is the self-contained analog trained
    on the corpus ITSELF, so a document's score measures how typical
    its character statistics are of the corpus — boilerplate/garbage/
    wrong-language outliers score high NLL and can be gated or
    quantile-bucketed downstream, CCNet's head/middle/tail split).

    Model: text is normalized to the 27-char alphabet [a-z ] (lowered,
    non-letter runs collapsed to one space — bounds the bigram table at
    27x27 regardless of corpus size); add-one smoothing
    P(c2|c1) = (count(c1c2) + 1) / (count(c1.) + V) with V the observed
    second-char vocabulary. Returns one row per doc:
    (id, n_bigrams, nll_micro, avg_nll) where nll_micro is the EXACT
    integer sum of per-bigram round(-ln P * 1e6) micro-nats — integer
    summation is fold-order-independent, so the Spark partial aggregate
    and the DuckDB oracle agree exactly (the repo's dyadic-sum trick,
    integer flavor) — and avg_nll = micro_mean_4dp(nll_micro, n_bigrams),
    the exact 4-dp rounding (NULL when the doc has no bigrams).

    Scale: one explode -> bigram-count aggregation (<= 729 rows out —
    map-side combine collapses each task to the table size), eagerly
    localCheckpointed so the <= 27-row prefix rollup and 1-row
    vocabulary count derive from the tiny table instead of re-scanning
    the corpus (Spark does NOT reuse the exchange across the three
    consumers otherwise — measured); all three broadcast into the
    scoring pass. The count tables are corpus-size-independent: at
    100 TB the full-data costs are two full-text scans (counts build,
    scoring) plus a column-pruned id-only scan for the zero-bigram left
    join, and the map-side-combinable per-doc sum. No windows, no
    pairs, no collect. Eager (the checkpoint), like the dedup sketch
    operators.
    """
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z]+", " ")
    bigrams = F.when(
        F.length(norm) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - 1),
            lambda i: F.substring(norm, i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = docs.select(F.col(id_col), F.explode(bigrams).alias("bg"))
    cnts = (
        bg.groupBy("bg").agg(F.count("*").alias("cnt")).localCheckpoint(eager=True)
    )
    pref = cnts.groupBy(F.substring("bg", 1, 1).alias("c1")).agg(
        F.sum("cnt").alias("tot")
    )
    vsz = cnts.agg(F.countDistinct(F.substring("bg", 2, 1)).alias("vsz"))
    scored = (
        bg.join(F.broadcast(cnts), "bg")
        .join(F.broadcast(pref), F.substring("bg", 1, 1) == F.col("c1"))
        .crossJoin(F.broadcast(vsz))
        .withColumn(
            "m",
            F.round(
                -F.log((F.col("cnt") + 1) / (F.col("tot") + F.col("vsz"))) * 1e6
            ).cast("long"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"), F.sum("m").alias("nll_micro")
    )
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("nll_micro", F.lit(0)).alias("nll_micro"),
            # NULL (bigram-less doc) when the left join found no row
            micro_mean_4dp_col(F.col("nll_micro"), F.col("n_bigrams")).alias("avg_nll"),
        )
    )
