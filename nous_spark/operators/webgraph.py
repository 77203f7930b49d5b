"""Web-graph analytics over extracted hyperlinks — the layer between
``text.html_links`` (page -> outlink rows) and ``graph.pagerank``:
per-target anchor-text profiles (anchor texts are the classic entity
surface-form source a KG linker mines — the aliases feeding
``linking.py``'s find-or-create), the domain-level link graph (the
crawl-scale rollup that turns 10^10 page edges into a 10^6-node domain
graph), and per-page link-quality signals (the outlink-density spam
gates a RefinedWeb/Dolma-style curation run applies alongside
``text.gopher_rules``).

The reference (jwandekoken/nous) has no web-graph analog — these are
builder-brief web-corpus extensions, sharing the lexical link rule and
URL identity machinery already oracled in ``text.py``
(``_HTML_LINK_RE``, ``_LINK_ENTITY_STEPS``, ``url_host_col``,
``url_registrable_domain_col``) so every identity rule lives in exactly
one place.

Scale notes (the 100 TB question, per operator):

- ``anchor_text_profiles``: two map-side-combinable hash aggregations
  plus a top-1-per-href window that Spark 4 executes as
  WindowGroupLimit (Partial+Final — each map task forwards only its
  own best row per href, so the exchange under the window carries
  O(n_map_partitions) rows per href, never the raw fan-in of a
  mega-URL; scale-tested on a 60k-fan-in viral href). Same shape as
  ``curation.corpus_datacard``'s language-mode branch; no hot-key cap
  needed because no pairs are ever generated.
- ``domain_link_graph`` / ``domain_edges``: stateless per-row domain
  projection followed by one hash agg keyed on (src_domain,
  dst_domain) — output cardinality is the sparse domain-pair matrix
  (~10^7 at web scale), tiny next to the input edge list.
- ``link_quality_signals`` / ``robots_meta``: pure codegen Column
  chains (regexp extraction + higher-order array functions) — zero
  exchanges, zero Python workers, plan-gated in pytest like
  ``html_extract``; both proven stream==batch (ingest-time stamping).
- ``domain_quality_gate``: one partial-agg exchange down to |domains|
  rows, stats joined back under AQE (never force-broadcast — the
  stats side is corpus-derived).
- ``url_revisit_diff``: two URL-keyed partial aggs + ONE co-partitioned
  full-outer join; no broadcast, no skew (URLs unique post-agg).
- ``domain_reciprocity``: distinct pair set persisted once (four
  consumers), one reversed-pair semi self-join, three degree aggs on
  |domains|-row frames; eager-return localCheckpoint discipline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import (
    _HTML_LINK_RE,
    _LINK_ENTITY_STEPS,
    _URL_HOST_RE,
    URL_CC_SLDS,
    host_sql_expr,
    registrable_domain_sql_expr,
    url_host_col,
    url_registrable_domain_col,
)

__all__ = [
    "anchor_text_profiles",
    "anchor_text_profiles_oracle_sql",
    "domain_edges",
    "domain_link_graph",
    "domain_link_graph_oracle_sql",
    "domain_edges_oracle_sql",
    "domain_quality_gate",
    "domain_quality_gate_oracle_sql",
    "link_quality_signals",
    "link_quality_signals_py",
    "link_quality_signals_oracle_sql",
    "robots_meta",
    "robots_meta_py",
    "robots_meta_oracle_sql",
    "url_revisit_diff",
    "url_revisit_diff_oracle_sql",
    "domain_reciprocity",
    "domain_reciprocity_oracle_sql",
    "latest_snapshot",
    "latest_snapshot_oracle_sql",
]


# ------------------------------------------------------------------ helpers
def _domain_col(url: Column) -> Column:
    """Registrable domain of a full URL (host extraction + ccSLD rule —
    the one identity shared with ``domain_blocklist_filter``)."""
    return url_registrable_domain_col(url_host_col(url))


def _url_domain_sql(e: str) -> str:
    """Registrable domain of a URL expression, rendered to DuckDB SQL
    via the shared ``text.py`` generators (the one SQL rendering of the
    URL identity, shared with ``domain_blocklist_oracle_sql``)."""
    return registrable_domain_sql_expr(host_sql_expr(e))


# ------------------------------------------------ anchor-text profiles
def anchor_text_profiles(
    links: DataFrame,
    id_col: str = "doc_id",
    href_col: str = "href",
    anchor_col: str = "anchor",
) -> DataFrame:
    """Per-target anchor-text profile over a (doc, href, anchor) link
    table: how many pages link here, with how many distinct display
    texts, and what the dominant text is. Anchor texts are the web's
    free entity-alias corpus (the signal behind classic entity linking
    and the `aliases` identifier type in ``linking.py``) — a KG
    construction run mines ``top_anchor`` per URL as a candidate
    surface form.

    Returns one row per distinct ``href``:

      n_inlinks           total inbound links (multi-links per page count)
      n_src_docs          distinct linking documents
      n_distinct_anchors  distinct NON-EMPTY anchor texts ('' = image/
                          markup-only anchors, excluded from the text
                          profile but counted in n_inlinks)
      top_anchor          most frequent non-empty anchor; count ties
                          break to the lexicographically smallest text
                          (deterministic cross-engine). NULL when every
                          inbound anchor is empty.
      top_anchor_count    its frequency (NULL with top_anchor)

    Scale: the rollup is ONE hash agg on href (count-distincts ride
    Spark's Expand + partial aggregation — map-side combinable); the
    dominant anchor is a (href, anchor) count agg followed by a
    top-1-per-href row_number that Spark 4 plans as WindowGroupLimit
    (Partial mode keeps each map task's best row only, bounding the
    window exchange regardless of a mega-URL's anchor fan-in). The
    final href-keyed left join is between two already-aggregated
    frames. No pair generation anywhere, so no hot-key cap applies.

    The links relation is consumed TWICE (rollup + anchor counts) and
    is deliberately NOT persisted here: at web scale it is a
    materialized table (two cheap scans), and caching a 10^10-row edge
    list would evict far more useful state. Callers feeding a DERIVED
    frame (e.g. html_links over raw pages) should persist it first if
    the extraction is expensive.
    """
    base = links.select(
        F.col(id_col).alias("_src"),
        F.col(href_col).alias("href"),
        F.col(anchor_col).alias("anchor"),
    )
    agg = base.groupBy("href").agg(
        F.count("*").alias("n_inlinks"),
        F.countDistinct("_src").alias("n_src_docs"),
        F.countDistinct(
            F.when(F.col("anchor") != "", F.col("anchor"))
        ).alias("n_distinct_anchors"),
    )
    ac = (
        base.filter(F.col("anchor") != "")
        .groupBy("href", "anchor")
        .agg(F.count("*").alias("top_anchor_count"))
    )
    w = Window.partitionBy("href").orderBy(
        F.desc("top_anchor_count"), F.col("anchor")
    )
    top = (
        ac.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("href").alias("_thref"),
            F.col("anchor").alias("top_anchor"),
            "top_anchor_count",
        )
    )
    return (
        agg.join(top, agg["href"] == top["_thref"], "left")
        .drop("_thref")
        .select(
            "href",
            "n_inlinks",
            "n_src_docs",
            "n_distinct_anchors",
            "top_anchor",
            "top_anchor_count",
        )
    )


def anchor_text_profiles_oracle_sql(
    source: str,
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of ``anchor_text_profiles``. ``source`` is the
    (id, href, anchor) link relation (typically the generated
    ``html_links_oracle_sql``). Same tie rule: count DESC, anchor ASC."""
    return f"""
        WITH links AS ({source}),
        agg AS (
          SELECT href,
                 count(*) AS n_inlinks,
                 count(DISTINCT {id_col}) AS n_src_docs,
                 count(DISTINCT CASE WHEN anchor <> '' THEN anchor END)
                   AS n_distinct_anchors
          FROM links GROUP BY href
        ),
        ac AS (
          SELECT href, anchor, count(*) AS c
          FROM links WHERE anchor <> '' GROUP BY href, anchor
        ),
        top AS (
          SELECT href, anchor, c,
                 row_number() OVER (PARTITION BY href
                                    ORDER BY c DESC, anchor) AS rn
          FROM ac
        )
        SELECT agg.href, agg.n_inlinks, agg.n_src_docs,
               agg.n_distinct_anchors,
               top.anchor AS top_anchor, top.c AS top_anchor_count
        FROM agg LEFT JOIN top ON agg.href = top.href AND top.rn = 1
    """


# ------------------------------------------------ domain link graph
def domain_edges(
    links: DataFrame, src_url_col: str = "src_url", href_col: str = "href"
) -> DataFrame:
    """Raw (src, dst) registrable-domain pair per link — one row PER
    LINK (multiplicity preserved), the exact edge-list contract
    ``graph.pagerank`` documents for multi-edges (each link adds one
    contribution unit and one outdegree unit). Relative and
    unparseable hrefs (no ``scheme://``) bucket to domain ``''`` —
    callers filter or keep the bucket as the 'intra-site navigation'
    node. Stateless projection: zero exchanges."""
    return links.select(
        _domain_col(F.col(src_url_col)).alias("src"),
        _domain_col(F.col(href_col)).alias("dst"),
    )


def domain_link_graph(
    links: DataFrame, src_url_col: str = "src_url", href_col: str = "href"
) -> DataFrame:
    """Domain-level web-graph rollup: collapse page->href links to
    weighted registrable-domain edges — the standard first reduction of
    a crawl graph (10^10 page edges -> ~10^7 sparse domain pairs)
    before host-level ranking, spam propagation, or crawl budgeting.

    Returns (src_domain, dst_domain, n_links, n_src_urls, intra):
    total link count, distinct linking page URLs, and whether the edge
    is intra-domain (self-loop — site navigation; inter-domain edges
    are the endorsement signal rankers use).

    Scale: stateless domain projection + the exact-countDistinct
    two-phase (plan-audited): partial agg keyed (pair, url) so a
    page's duplicate links combine map-side before any exchange, then
    the pair-keyed merge — both exchanges carry partial-aggregated
    rows only.
    """
    e = links.select(
        _domain_col(F.col(src_url_col)).alias("src_domain"),
        _domain_col(F.col(href_col)).alias("dst_domain"),
        F.col(src_url_col).alias("_u"),
    )
    return (
        e.groupBy("src_domain", "dst_domain")
        .agg(
            F.count("*").alias("n_links"),
            F.countDistinct("_u").alias("n_src_urls"),
        )
        .withColumn("intra", F.col("src_domain") == F.col("dst_domain"))
    )


def domain_edges_oracle_sql(
    source: str, src_url_col: str = "src_url", href_col: str = "href"
) -> str:
    """DuckDB mirror of ``domain_edges`` (feeds
    ``graph.pagerank_oracle_sql`` as its edges_sql)."""
    return (
        f"SELECT {_url_domain_sql(src_url_col)} AS src, "
        f"{_url_domain_sql(href_col)} AS dst FROM ({source})"
    )


def domain_link_graph_oracle_sql(
    source: str, src_url_col: str = "src_url", href_col: str = "href"
) -> str:
    """DuckDB mirror of ``domain_link_graph``. ``source`` is the
    (src_url, href) link relation."""
    return f"""
        WITH e AS (
          SELECT {_url_domain_sql(src_url_col)} AS src_domain,
                 {_url_domain_sql(href_col)} AS dst_domain,
                 {src_url_col} AS _u
          FROM ({source})
        )
        SELECT src_domain, dst_domain,
               count(*) AS n_links,
               count(DISTINCT _u) AS n_src_urls,
               src_domain = dst_domain AS intra
        FROM e GROUP BY src_domain, dst_domain
    """


# ------------------------------------------------ link-quality signals
def link_quality_signals(
    pages: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    html_col: str = "html",
    text_col: str = "text",
) -> DataFrame:
    """Per-page outlink-quality signals — the SEO-spam/boilerplate
    gates a web-curation run applies next to ``gopher_rules`` (link
    farms have many links to few domains; navigation shells have high
    anchor-to-text ratios):

      n_links           outlinks under the shared lexical link rule
      n_link_domains    distinct registrable target domains ('' is the
                        relative/unparseable bucket and counts as one)
      n_intra_links     links whose target domain == the page's own
      intra_frac        n_intra_links / n_links (NULL when no links)
      anchor_chars      total CLEANED anchor-text chars (same cleanup
                        chain as ``html_links`` — shared identity)
      anchor_char_frac  anchor_chars / max(1, len(text)) where ``text``
                        is the caller-supplied extracted text (compose
                        with ``html_extract``)

    Scale: a pure codegen Column chain — one regexp extraction pass
    plus higher-order array functions (transform/filter/aggregate);
    zero exchanges, zero Python workers (plan-gated in pytest). The
    per-page link list is bounded (~O(100) on real pages), so the
    array work is constant per row.
    """
    raw = F.coalesce(F.col(html_col), F.lit(""))
    pat = F.lit(_HTML_LINK_RE)

    def clean_href(x: Column) -> Column:
        for p, r in _LINK_ENTITY_STEPS:
            x = F.replace(x, F.lit(p), F.lit(r))
        return x

    def clean_anchor(a: Column) -> Column:
        a = F.regexp_replace(a, r"<[^>]*>", " ")
        for p, r in _LINK_ENTITY_STEPS:
            a = F.replace(a, F.lit(p), F.lit(r))
        return F.trim(F.regexp_replace(a, r"[ \t\r\n]+", " "))

    hrefs = F.transform(
        F.regexp_extract_all(raw, pat, F.lit(1)), lambda x: clean_href(x)
    )
    anchors = F.transform(
        F.regexp_extract_all(raw, pat, F.lit(2)), lambda a: clean_anchor(a)
    )
    doms = F.transform(hrefs, lambda x: _domain_col(x))
    # NULL url coalesces to '' so page_dom matches the Python
    # reference's ''-domain (a NULL would silently zero n_intra_links)
    page_dom = _domain_col(F.coalesce(F.col(url_col), F.lit("")))
    n_links = F.size(hrefs).cast("long")
    n_intra = F.size(F.filter(doms, lambda d: d == page_dom)).cast("long")
    anchor_chars = F.aggregate(
        anchors, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    return pages.select(
        F.col(id_col),
        n_links.alias("n_links"),
        F.size(F.array_distinct(doms)).cast("long").alias("n_link_domains"),
        n_intra.alias("n_intra_links"),
        F.when(n_links > 0, n_intra / n_links).alias("intra_frac"),
        anchor_chars.alias("anchor_chars"),
        (
            anchor_chars
            / F.greatest(
                F.lit(1).cast("long"),
                F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("long"),
            )
        ).alias("anchor_char_frac"),
    )


def link_quality_signals_py(
    url: str | None, html: str | None, text: str | None
) -> tuple[int, int, int, float | None, int, float]:
    """Pure-Python reference of ``link_quality_signals`` (pytest ground
    truth): same regex, cleanup steps, and host/domain rules."""
    import re

    def host(u: str) -> str:
        m = re.match(_URL_HOST_RE, u or "")
        h = (m.group(1) if m else "").lower()
        h = re.sub(r"^[^@]*@", "", h)
        return re.sub(r":[0-9]+$", "", h)

    def domain(h: str) -> str:
        lab = h.split(".")
        if len(lab) >= 3 and ".".join(lab[-2:]) in URL_CC_SLDS:
            return ".".join(lab[-3:])
        if len(lab) >= 2:
            return ".".join(lab[-2:])
        return h

    hrefs, anchors = [], []
    for href, anchor in re.findall(_HTML_LINK_RE, html or ""):
        anchor = re.sub(r"<[^>]*>", " ", anchor)
        for p, r in _LINK_ENTITY_STEPS:
            href = href.replace(p, r)
            anchor = anchor.replace(p, r)
        hrefs.append(href)
        anchors.append(re.sub(r"[ \t\r\n]+", " ", anchor).strip(" "))
    doms = [domain(host(x)) for x in hrefs]
    page_dom = domain(host(url or ""))
    n_links = len(hrefs)
    n_intra = sum(1 for d in doms if d == page_dom)
    anchor_chars = sum(len(a) for a in anchors)
    return (
        n_links,
        len(set(doms)),
        n_intra,
        (n_intra / n_links) if n_links else None,
        anchor_chars,
        anchor_chars / max(1, len(text or "")),
    )


def link_quality_signals_oracle_sql(
    source: str, id_col: str = "doc_id"
) -> str:
    """DuckDB mirror of ``link_quality_signals``, GENERATED from the
    same regex/entity-step/ccSLD tables. ``source`` is the (id, url,
    html, text) relation. List lambdas carry the inlined host/domain
    CASE (no CTE inside a lambda)."""
    href_e = "x"
    anchor_e = "regexp_replace(a, '<[^>]*>', ' ', 'g')"
    for p, r in _LINK_ENTITY_STEPS:
        qp, qr = p.replace("'", "''"), r.replace("'", "''")
        href_e = f"replace({href_e}, '{qp}', '{qr}')"
        anchor_e = f"replace({anchor_e}, '{qp}', '{qr}')"
    anchor_e = (
        f"trim(regexp_replace({anchor_e}, '[ \\t\\r\\n]+', ' ', 'g'), ' ')"
    )
    link_re = _HTML_LINK_RE.replace("'", "''")
    dom_of_href = registrable_domain_sql_expr(host_sql_expr(href_e))
    page_dom = _url_domain_sql("coalesce(url, '')")
    return f"""
        WITH base AS (
          SELECT {id_col}, url, coalesce(html, '') AS raw,
                 coalesce(text, '') AS txt
          FROM ({source})
        ), z AS (
          SELECT {id_col},
                 list_transform(regexp_extract_all(raw, '{link_re}', 1),
                                x -> {dom_of_href}) AS doms,
                 list_transform(regexp_extract_all(raw, '{link_re}', 2),
                                a -> {anchor_e}) AS anchors,
                 {page_dom} AS page_dom,
                 length(txt) AS txt_len
          FROM base
        )
        SELECT {id_col},
               CAST(len(doms) AS BIGINT) AS n_links,
               CAST(len(list_distinct(doms)) AS BIGINT) AS n_link_domains,
               CAST(len(list_filter(doms, d -> d = page_dom)) AS BIGINT)
                 AS n_intra_links,
               CASE WHEN len(doms) > 0
                    THEN CAST(len(list_filter(doms, d -> d = page_dom))
                              AS DOUBLE) / len(doms) END AS intra_frac,
               CAST(coalesce(list_sum(list_transform(anchors,
                                                     a -> length(a))), 0)
                    AS BIGINT) AS anchor_chars,
               CAST(coalesce(list_sum(list_transform(anchors,
                                                     a -> length(a))), 0)
                    AS DOUBLE) / greatest(1, txt_len) AS anchor_char_frac
        FROM z
    """


# ------------------------------------------------ robots meta gate
# Lexical rule (Java-regex ∩ RE2 ∩ Python-re ∩ DuckDB-RE2, same stance
# as _HTML_LINK_RE): a <meta ...> tag carrying a name=robots attribute,
# double-quoted, single-quoted or unquoted, case-insensitive. ``name``
# must start an attribute (after whitespace or a closing quote), so
# data-name="robots" is not read, and the value must be exactly robots.
# Directive tokens (noindex/nofollow/none, word-bounded) are searched in
# the raw tag text, so attribute order (content before name) doesn't
# matter and 'none' implies both per the robots spec.
_ROBOTS_META_RE = (
    r"""(?is)<meta\s(?:[^>]*[\s"'])?name\s*=\s*(?:"robots"|'robots'|robots)"""
    r"""(?:[\s"'/][^>]*)?>"""
)
_NOINDEX_RE = r"(?i)\b(noindex|none)\b"
_NOFOLLOW_RE = r"(?i)\b(nofollow|none)\b"


def robots_meta(
    pages: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """Robots-meta compliance gate — the page-level opt-out a lawful
    crawl corpus must honor before training-data inclusion (noindex
    pages leave the corpus; nofollow pages keep their text but drop
    out of the link graph / anchor mining). Returns (id,
    robots_noindex, robots_nofollow); pages with no robots meta are
    false/false.

    Scale: a pure codegen Column chain (one regexp extraction + an
    EXISTS over the per-page tag list) — zero exchanges, zero Python
    workers; plan-gated in pytest next to ``link_quality_signals``.
    """
    tags = F.regexp_extract_all(
        F.coalesce(F.col(html_col), F.lit("")),
        F.lit(_ROBOTS_META_RE),
        F.lit(0),
    )
    return pages.select(
        F.col(id_col),
        F.exists(tags, lambda t: t.rlike(_NOINDEX_RE)).alias(
            "robots_noindex"
        ),
        F.exists(tags, lambda t: t.rlike(_NOFOLLOW_RE)).alias(
            "robots_nofollow"
        ),
    )


def robots_meta_py(html: str | None) -> tuple[bool, bool]:
    """Pure-Python reference of ``robots_meta`` (pytest ground truth)."""
    import re

    tags = re.findall(_ROBOTS_META_RE, html or "")
    return (
        any(re.search(_NOINDEX_RE, t) for t in tags),
        any(re.search(_NOFOLLOW_RE, t) for t in tags),
    )


def robots_meta_oracle_sql(source: str, id_col: str = "doc_id") -> str:
    """DuckDB mirror of ``robots_meta``, GENERATED from the same three
    regexes. ``source`` is the (id, html) relation."""
    tag_re = _ROBOTS_META_RE.replace("'", "''")
    return f"""
        WITH z AS (
          SELECT {id_col},
                 regexp_extract_all(coalesce(html, ''), '{tag_re}', 0)
                   AS tags
          FROM ({source})
        )
        SELECT {id_col},
               len(list_filter(tags,
                   t -> regexp_matches(t, '{_NOINDEX_RE}'))) > 0
                 AS robots_noindex,
               len(list_filter(tags,
                   t -> regexp_matches(t, '{_NOFOLLOW_RE}'))) > 0
                 AS robots_nofollow
        FROM z
    """


# ------------------------------------------------ domain quality gate
def domain_quality_gate(
    docs_scored: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    score_col: str = "quality_score",
    min_mean_score: float = 0.5,
    min_docs: int = 3,
) -> DataFrame:
    """Domain-level quality gating (the UT1/RefinedWeb move beyond a
    static blocklist): aggregate a per-document quality score to its
    registrable domain and drop WHOLE domains whose mean falls below
    ``min_mean_score`` — spam farms are domain-shaped, and the per-doc
    heuristic misses individual pages that pass on length/punctuation
    alone. Domains with fewer than ``min_docs`` documents are kept
    (insufficient evidence — the gate must not nuke the long tail of
    single-page domains a small crawl sample underrepresents).

    Input is any (id, url, score) frame — compose upstream with
    ``text.quality_score_cols`` (the oracled heuristic) or
    ``text.quality_classifier_score`` (the learned one). Returns (id,
    domain, domain_n_docs, domain_mean_score rounded to 4, domain_keep).

    Scale: stateless domain projection -> ONE map-side-combinable hash
    agg (|domains| rows out) -> domain-keyed join back onto the corpus.
    The stats side is corpus-derived (~10^7 domains on a full crawl),
    so the join is left to AQE rather than force-broadcast — same
    stance as the facts join in graph.py (a static broadcast would OOM
    at the 10^9-page corpus the gate exists for). Mean is
    order-dependent double math: rounded to 4 (repo convention).
    """
    # NULL urls coalesce to '' so their docs land in the ''-domain
    # bucket instead of silently vanishing through the NULL-unsafe
    # domain equi-join (both engines drop NULL=NULL matches)
    base = docs_scored.select(
        F.col(id_col),
        _domain_col(F.coalesce(F.col(url_col), F.lit(""))).alias("domain"),
        F.col(score_col).cast("double").alias("_s"),
    )
    stats = base.groupBy("domain").agg(
        F.count("*").alias("domain_n_docs"),
        F.round(F.avg("_s"), 4).alias("domain_mean_score"),
    )
    return (
        base.join(stats, "domain")
        .select(
            F.col(id_col),
            "domain",
            "domain_n_docs",
            "domain_mean_score",
            (
                (F.col("domain_n_docs") < F.lit(int(min_docs)))
                | (F.col("domain_mean_score") >= F.lit(float(min_mean_score)))
            ).alias("domain_keep"),
        )
    )


def domain_quality_gate_oracle_sql(
    source: str,
    id_col: str = "doc_id",
    min_mean_score: float = 0.5,
    min_docs: int = 3,
) -> str:
    """DuckDB mirror of ``domain_quality_gate``. ``source`` is the
    (id, url, quality_score) relation; thresholds round-trip via
    repr->CAST so the comparison constant is the exact Python double
    (the pagerank_oracle_sql convention)."""
    thr = repr(float(min_mean_score))
    return f"""
        WITH base AS (
          SELECT {id_col},
                 {_url_domain_sql("coalesce(url, '')")} AS domain,
                 CAST(quality_score AS DOUBLE) AS _s
          FROM ({source})
        ), stats AS (
          SELECT domain,
                 count(*) AS domain_n_docs,
                 round(avg(_s), 4) AS domain_mean_score
          FROM base GROUP BY domain
        )
        SELECT base.{id_col}, base.domain,
               stats.domain_n_docs, stats.domain_mean_score,
               (stats.domain_n_docs < {int(min_docs)}
                OR stats.domain_mean_score >= CAST('{thr}' AS DOUBLE))
                 AS domain_keep
        FROM base JOIN stats USING (domain)
    """


# ------------------------------------------------ cross-snapshot revisit
def url_revisit_diff(
    prev: DataFrame,
    curr: DataFrame,
    url_col: str = "url",
    hash_col: str = "content_md5",
) -> DataFrame:
    """Cross-snapshot crawl diff — the re-crawl scheduler's input: for
    every URL seen in either snapshot, classify

      'new'        in curr only (first fetch)
      'gone'       in prev only (dead link / dropped from frontier)
      'unchanged'  both snapshots, same content hash (skip re-process;
                   the downstream incremental dedup never sees it)
      'changed'    both snapshots, hash differs (re-extract + re-ingest)

    Returns (url, prev_md5, curr_md5, status). Snapshots are expected
    URL-unique; duplicate rows are canonicalized deterministically
    (min hash per URL — never an arbitrary-row dropDuplicates, the
    repo's determinism rule). NULL content hashes (a fetched-but-empty
    page) are coalesced to '' BEFORE the min/compare — otherwise
    min() skips them (both engines) and a URL whose only hash is NULL
    silently reads as absent from its snapshot ('new'/'gone' instead
    of 'unchanged'/'changed'). NULL urls are coalesced to '' the same
    way: the outer join is NULL-unsafe, so a NULL-url capture present
    in both snapshots would otherwise read as one 'gone' plus one 'new'
    row instead of one compared row.

    Scale: two map-side-combinable hash aggs (URL-keyed) feeding ONE
    full-outer shuffle join co-partitioned on the same url key — at
    10^10 URLs both sides hash-partition identically, no broadcast,
    no skew (URLs are unique keys by construction after the agg).
    """
    url = F.coalesce(F.col(url_col), F.lit("")).alias("url")
    p = prev.groupBy(url).agg(
        F.min(F.coalesce(F.col(hash_col), F.lit(""))).alias("prev_md5")
    )
    c = curr.groupBy(url).agg(
        F.min(F.coalesce(F.col(hash_col), F.lit(""))).alias("curr_md5")
    )
    status = (
        F.when(F.col("prev_md5").isNull(), F.lit("new"))
        .when(F.col("curr_md5").isNull(), F.lit("gone"))
        .when(F.col("prev_md5") == F.col("curr_md5"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        p.join(c, "url", "full_outer")
        .select("url", "prev_md5", "curr_md5", status.alias("status"))
    )


def url_revisit_diff_oracle_sql(prev_sql: str, curr_sql: str) -> str:
    """DuckDB mirror of ``url_revisit_diff``. ``prev_sql``/``curr_sql``
    are (url, content_md5) relations."""
    return f"""
        WITH p AS (
          SELECT coalesce(url, '') AS url,
                 min(coalesce(content_md5, '')) AS prev_md5
          FROM ({prev_sql}) GROUP BY 1
        ), c AS (
          SELECT coalesce(url, '') AS url,
                 min(coalesce(content_md5, '')) AS curr_md5
          FROM ({curr_sql}) GROUP BY 1
        )
        SELECT coalesce(p.url, c.url) AS url, p.prev_md5, c.curr_md5,
               CASE WHEN p.prev_md5 IS NULL THEN 'new'
                    WHEN c.curr_md5 IS NULL THEN 'gone'
                    WHEN p.prev_md5 = c.curr_md5 THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM p FULL OUTER JOIN c ON p.url = c.url
    """


# ------------------------------------------------ domain reciprocity
def domain_reciprocity(
    pairs: DataFrame,
    src_col: str = "src_domain",
    dst_col: str = "dst_domain",
) -> DataFrame:
    """Link-farm signal over the domain graph: reciprocal-link rate per
    domain. Organic sites earn mostly one-way endorsements; link
    exchanges and PBN spam rings show out-neighbourhoods where most
    targets link straight back — the classic TrustRank-era feature a
    crawl-budget or quality model consumes next to PageRank.

    Input is a (src, dst) domain pair relation (weighted rollup rows
    fine — pairs are de-duplicated and intra-domain self-loops dropped
    first). Per domain appearing anywhere in the inter-domain graph:

      out_deg       distinct domains it links to
      in_deg        distinct domains linking to it
      n_reciprocal  out-neighbours that link back
      reciprocity   n_reciprocal / out_deg (NULL when out_deg = 0)

    Scale: the distinct pair set is the sparse domain-pair matrix; the
    reciprocal check is ONE left-semi self-join on the reversed pair
    key (hash-partitioned both sides, no broadcast needed, keys unique
    after distinct); then three map-side-combinable degree aggs merged
    by full-outer joins on the |domains|-row frames. The pair set has
    FOUR consumers (both semi-join sides + two degree aggs), so it is
    persisted once and the result localCheckpointed eagerly so the
    cache can be unpersisted before returning (the repo's eager-return
    multi-consumer discipline) — without it the input relation is
    re-scanned and re-deduplicated per consumer (plan-audited:
    13 exchanges -> the persisted shape).
    """
    e = (
        pairs.filter(F.col(src_col) != F.col(dst_col))
        .select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .persist()
    )
    rev = e.select(F.col("dst").alias("r_src"), F.col("src").alias("r_dst"))
    recip = e.join(
        rev,
        (F.col("src") == F.col("r_src")) & (F.col("dst") == F.col("r_dst")),
        "left_semi",
    )
    out_deg = e.groupBy(F.col("src").alias("domain")).agg(
        F.count("*").alias("out_deg")
    )
    in_deg = e.groupBy(F.col("dst").alias("domain")).agg(
        F.count("*").alias("in_deg")
    )
    n_recip = recip.groupBy(F.col("src").alias("domain")).agg(
        F.count("*").alias("n_reciprocal")
    )
    merged = (
        out_deg.join(in_deg, "domain", "full_outer")
        .join(n_recip, "domain", "full_outer")
        .select(
            "domain",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.coalesce("n_reciprocal", F.lit(0)).alias("n_reciprocal"),
        )
    )
    out = merged.withColumn(
        "reciprocity",
        F.when(
            F.col("out_deg") > 0, F.col("n_reciprocal") / F.col("out_deg")
        ),
    ).localCheckpoint()
    e.unpersist()
    return out


def domain_reciprocity_oracle_sql(
    source: str, src_col: str = "src_domain", dst_col: str = "dst_domain"
) -> str:
    """DuckDB mirror of ``domain_reciprocity``. ``source`` is the
    (src, dst) domain pair relation."""
    return f"""
        WITH e AS (
          SELECT DISTINCT {src_col} AS src, {dst_col} AS dst
          FROM ({source}) WHERE {src_col} <> {dst_col}
        ), recip AS (
          SELECT x.src, x.dst FROM e x
          WHERE EXISTS (SELECT 1 FROM e y
                        WHERE y.src = x.dst AND y.dst = x.src)
        ), od AS (
          SELECT src AS domain, count(*) AS out_deg FROM e GROUP BY src
        ), idg AS (
          SELECT dst AS domain, count(*) AS in_deg FROM e GROUP BY dst
        ), nr AS (
          SELECT src AS domain, count(*) AS n_reciprocal
          FROM recip GROUP BY src
        )
        SELECT coalesce(od.domain, idg.domain, nr.domain) AS domain,
               coalesce(od.out_deg, 0) AS out_deg,
               coalesce(idg.in_deg, 0) AS in_deg,
               coalesce(nr.n_reciprocal, 0) AS n_reciprocal,
               CASE WHEN coalesce(od.out_deg, 0) > 0
                    THEN CAST(coalesce(nr.n_reciprocal, 0) AS DOUBLE)
                         / od.out_deg END AS reciprocity
        FROM od
        FULL OUTER JOIN idg ON od.domain = idg.domain
        FULL OUTER JOIN nr ON coalesce(od.domain, idg.domain) = nr.domain
    """


# ------------------------------------------------ latest-snapshot pick
def latest_snapshot(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """Multi-snapshot collapse — the FIRST preprocessing step of a
    Common-Crawl-style corpus: a URL fetched in several crawls keeps
    only its newest capture, so every downstream identity (extracted
    text, dedup hashes, link graph) sees one row per URL. Pick rule:
    max ``warc_ts`` per URL; exact-timestamp ties break to the smallest
    md5 of the text (deterministic cross-engine — never an
    arbitrary-row dropDuplicates, the repo's determinism rule).

    Returns (url, warc_ts, text) of the surviving capture.

    Scale: top-1-per-url row_number that Spark 4 plans as
    WindowGroupLimit (Partial+Final — each map task forwards one row
    per URL before the exchange); snapshot fan-in per URL is crawl
    count (~dozens), never data-sized.
    """
    order_md5 = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    w = Window.partitionBy(url_col).orderBy(
        F.col(ts_col).desc(), order_md5.asc()
    )
    return (
        pages.select(url_col, ts_col, text_col)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def latest_snapshot_oracle_sql(
    source: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> str:
    """DuckDB mirror of ``latest_snapshot``. ``source`` is the
    (url, warc_ts, text) relation; same ts-desc/md5-asc pick rule."""
    return f"""
        WITH ranked AS (
          SELECT {url_col}, {ts_col}, {text_col},
                 row_number() OVER (
                   PARTITION BY {url_col}
                   ORDER BY {ts_col} DESC,
                            md5(coalesce({text_col}, ''))) AS rn
          FROM ({source})
        )
        SELECT {url_col}, {ts_col}, {text_col} FROM ranked WHERE rn = 1
    """
