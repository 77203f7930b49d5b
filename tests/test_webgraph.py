"""Web-graph analytics: anchor-text profiles, domain link graph, and
per-page link-quality signals (nous_spark/operators/webgraph.py).
Cross-engine value parity for the sf-table queries rides
test_oracle_parity; here: pure-Python references on adversarial HTML,
pinned semantics (tie rules, '' buckets), and physical-plan gates."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

from nous_spark.operators.webgraph import (
    anchor_text_profiles,
    anchor_text_profiles_oracle_sql,
    domain_edges,
    domain_link_graph,
    link_quality_signals,
    link_quality_signals_oracle_sql,
    link_quality_signals_py,
)

# (doc_id, url, html, text) — adversarial: no links, NULL html, relative
# href, userinfo+port authority, uppercase scheme (outside the lexical
# host rule -> domain ''), ccSLD host, image-only anchor, entities in
# href and anchor, inner tag + newline in anchor.
PAGE_CASES = [
    (1, "https://www.a.co.uk/p/1",
     '<a href="https://news.a.co.uk/x?l=1&amp;r=2">A &amp; B</a>'
     '<a href="https://u:p@b.com:8443/y">b <b>bold</b>\n tail</a>'
     '<a href="/rel/nav">nav</a>',
     "short text"),
    (2, "https://b.com/", '<a href="https://b.com/self">self</a>', None),
    (3, "https://c.org/p", "", "no links at all"),
    (4, "https://d.net/p", None, "null html"),
    (5, "https://e.com/p",
     '<a href="HTTPS://E.com/up">upper scheme</a>'
     '<a href="https://e.com/i"><img src="x.png"/></a>',
     ""),
    # NULL url: page domain is the '' bucket, so the relative link is
    # intra — identical in Spark, DuckDB and the Python reference
    (6, None, '<a href="/rel">r</a><a href="https://f.com/">f</a>', "t"),
]


def _pages_df(spark):
    return spark.createDataFrame(
        PAGE_CASES, "doc_id long, url string, html string, text string"
    )


def test_link_quality_signals_matches_python_reference(spark):
    got = {
        r["doc_id"]: (
            r["n_links"], r["n_link_domains"], r["n_intra_links"],
            r["intra_frac"], r["anchor_chars"], r["anchor_char_frac"],
        )
        for r in link_quality_signals(_pages_df(spark)).collect()
    }
    for doc_id, url, html, text in PAGE_CASES:
        assert got[doc_id] == link_quality_signals_py(url, html, text), doc_id
    # pinned: page 1 — news.a.co.uk collapses to the page's own a.co.uk
    # (ccSLD registrable domain) -> intra; b.com (userinfo/port
    # stripped) and '' (relative) are the other two domains
    n, nd, ni, frac, ac, acf = got[1]
    assert (n, nd, ni) == (3, 3, 1) and frac == pytest.approx(1 / 3)
    # cleaned anchors: 'A & B' (5) + 'b bold tail' (11) + 'nav' (3)
    assert ac == 5 + 11 + 3 and acf == pytest.approx(19 / len("short text"))
    # page 2: NULL text -> denominator max(1, 0); intra self link
    assert got[2] == (1, 1, 1, 1.0, 4, 4.0)
    # pages 3/4: zero links -> zero counts, NULL intra_frac
    assert got[3] == (0, 0, 0, None, 0, 0.0)
    assert got[4] == (0, 0, 0, None, 0, 0.0)
    # page 5: uppercase scheme -> domain '' (not intra); img-only anchor
    # cleans to '' so contributes 0 chars
    n, nd, ni, frac, ac, acf = got[5]
    assert (n, nd, ni) == (2, 2, 1) and ac == len("upper scheme")
    # NULL url -> '' page domain: the relative link counts as intra
    assert got[6][:4] == (2, 2, 1, 0.5)


def test_link_quality_signals_duckdb_oracle_on_adversarial_corpus(spark):
    got = [
        tuple(r)
        for r in link_quality_signals(_pages_df(spark))
        .orderBy("doc_id")
        .collect()
    ]
    con = duckdb.connect()
    con.register(
        "pages",
        pd.DataFrame(PAGE_CASES, columns=["doc_id", "url", "html", "text"]),
    )
    duck = con.execute(
        link_quality_signals_oracle_sql(
            source="SELECT doc_id, url, html, text FROM pages"
        )
        + " ORDER BY doc_id"
    ).fetchall()
    assert got == [tuple(r) for r in duck]


def test_link_quality_signals_plan_is_zero_exchange(spark):
    plan = (
        link_quality_signals(_pages_df(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan  # pure Column chain, no UDF workers


def test_domain_edges_plan_is_zero_exchange(spark):
    links = spark.createDataFrame(
        [(1, "https://a.com/p", "https://b.com/x")],
        "doc_id long, src_url string, href string",
    )
    plan = domain_edges(links)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


LINKS = [
    # (doc_id, src_url, href, anchor)
    (1, "https://www.a.com/1", "https://hub.org/t", "Hub"),
    (1, "https://www.a.com/1", "https://hub.org/t", "hub news"),
    (2, "https://www.a.com/2", "https://hub.org/t", "hub news"),
    (3, "https://b.co.uk/3", "https://hub.org/t", "Hub"),
    # empty anchors: counted in n_inlinks, excluded from the profile
    (3, "https://b.co.uk/3", "https://imgs.net/i", ""),
    (4, "https://b.co.uk/4", "https://imgs.net/i", ""),
    # intra-domain edge (ccSLD collapse) + relative '' bucket
    (4, "https://b.co.uk/4", "https://cdn.b.co.uk/a", "asset"),
    (4, "https://b.co.uk/4", "/nav", "nav"),
]


def _links_df(spark):
    return spark.createDataFrame(
        LINKS, "doc_id long, src_url string, href string, anchor string"
    )


def test_anchor_profiles_semantics_pinned(spark):
    got = {
        r["href"]: (
            r["n_inlinks"], r["n_src_docs"], r["n_distinct_anchors"],
            r["top_anchor"], r["top_anchor_count"],
        )
        for r in anchor_text_profiles(_links_df(spark)).collect()
    }
    # 2-2 count tie between 'Hub' and 'hub news' -> lexicographic min
    # ('H' < 'h' in UTF-8); doc 1 links twice (n_inlinks 4, n_src 3)
    assert got["https://hub.org/t"] == (4, 3, 2, "Hub", 2)
    # all-empty anchors -> NULL profile, but inlinks/docs still counted
    assert got["https://imgs.net/i"] == (2, 2, 0, None, None)
    assert got["https://cdn.b.co.uk/a"] == (1, 1, 1, "asset", 1)
    assert got["/nav"] == (1, 1, 1, "nav", 1)


def test_anchor_profiles_duckdb_oracle_tie_rule(spark):
    got = sorted(
        tuple(r) for r in anchor_text_profiles(_links_df(spark)).collect()
    )
    con = duckdb.connect()
    con.register(
        "link_rows",
        pd.DataFrame(LINKS, columns=["doc_id", "src_url", "href", "anchor"]),
    )
    duck = sorted(
        tuple(r)
        for r in con.execute(
            anchor_text_profiles_oracle_sql(
                source="SELECT doc_id, href, anchor FROM link_rows"
            )
        ).fetchall()
    )
    assert got == duck


def test_anchor_profiles_top1_uses_window_group_limit(spark):
    """The dominant-anchor branch must plan as WindowGroupLimit (Spark
    4's partial top-1 pushdown) so a mega-URL's anchor fan-in never
    lands on one window task unbounded."""
    plan = (
        anchor_text_profiles(_links_df(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan


def test_domain_link_graph_semantics(spark):
    got = {
        (r["src_domain"], r["dst_domain"]): (
            r["n_links"], r["n_src_urls"], r["intra"]
        )
        for r in domain_link_graph(_links_df(spark)).collect()
    }
    # a.com pages -> hub.org: 3 links from 2 distinct page URLs
    assert got[("a.com", "hub.org")] == (3, 2, False)
    assert got[("b.co.uk", "hub.org")] == (1, 1, False)
    assert got[("b.co.uk", "imgs.net")] == (2, 2, False)
    # cdn.b.co.uk collapses to the registrable b.co.uk -> intra edge
    assert got[("b.co.uk", "b.co.uk")] == (1, 1, True)
    # relative href -> '' bucket
    assert got[("b.co.uk", "")] == (1, 1, False)
    assert len(got) == 5


def test_domain_edges_preserve_multiplicity(spark):
    """pagerank's multi-edge contract: one row per link, so doc 1's two
    hub links contribute twice (and count twice in its outdegree)."""
    rows = sorted(
        (r["src"], r["dst"]) for r in domain_edges(_links_df(spark)).collect()
    )
    assert rows.count(("a.com", "hub.org")) == 3  # 2 from doc1 + 1 doc2
    assert len(rows) == len(LINKS)


# ---------------------------------------------------------------------------
# robots_meta: page-level crawl-compliance gate
# ---------------------------------------------------------------------------
ROBOTS_CASES = [
    (1, '<head><meta name="robots" content="noindex, follow"></head>'),
    (2, '<head><META NAME="ROBOTS" CONTENT="NONE"></head>'),  # none -> both
    # content before name (attribute order is free)
    (3, '<head><meta content="nofollow" name="robots"></head>'),
    # decoy: description meta mentioning noindex must NOT trip the gate
    (4, '<head><meta name="description" content="noindex explained"></head>'),
    # multiple robots metas union; whitespace/newline inside the tag
    (5, '<meta name="robots"\n content="noindex"><meta name="robots" '
        'content="nofollow">'),
    # directive must be word-bounded: 'noindexing' is not 'noindex'
    (6, '<meta name="robots" content="noindexing">'),
    (7, None),
    (8, ""),
    # single-quoted and unquoted name=robots are read too
    (9, "<head><meta name='robots' content='noindex'></head>"),
    (10, "<head><meta name=robots content=nofollow></head>"),
    (11, "<meta content=none name=robots>"),
    # decoys: an attribute merely ending in 'name', and a value that
    # only starts with 'robots'
    (12, '<head><meta data-name="robots" content="noindex"></head>'),
    (13, "<meta name=robotsx content=noindex><meta name='robots-x' content=none>"),
    # ASCII-only matching: U+0131 in 'noindex' and a VT separator after
    # <meta are read the same way by all three engines
    (14, '<meta name="robots" content="no\u0131ndex">'),
    (15, '<meta\x0bname="robots" content="noindex">'),
]


def test_robots_meta_matches_python_reference(spark):
    from nous_spark.operators.webgraph import robots_meta, robots_meta_py

    pages = spark.createDataFrame(ROBOTS_CASES, "doc_id long, html string")
    got = {
        r["doc_id"]: (r["robots_noindex"], r["robots_nofollow"])
        for r in robots_meta(pages).collect()
    }
    for doc_id, html in ROBOTS_CASES:
        assert got[doc_id] == robots_meta_py(html), doc_id
    assert got[1] == (True, False)
    assert got[2] == (True, True)      # NONE implies both
    assert got[3] == (False, True)     # content-before-name order
    assert got[4] == (False, False)    # decoy ignored
    assert got[5] == (True, True)      # union over multiple tags
    assert got[6] == (False, False)    # word boundary
    assert got[7] == (False, False) and got[8] == (False, False)
    assert got[9] == (True, False)     # single-quoted
    assert got[10] == (False, True)    # unquoted
    assert got[11] == (True, True)     # unquoted, content first
    assert got[12] == (False, False)   # data-name decoy
    assert got[13] == (False, False)   # robots-prefixed values
    assert got[14] == (False, False)   # dotless i is not 'i'
    assert got[15] == (False, False)   # VT is not a tag separator


def test_robots_meta_duckdb_oracle_on_adversarial_corpus(spark):
    from nous_spark.operators.webgraph import robots_meta, robots_meta_oracle_sql

    pages = spark.createDataFrame(ROBOTS_CASES, "doc_id long, html string")
    got = [tuple(r) for r in robots_meta(pages).orderBy("doc_id").collect()]
    con = duckdb.connect()
    con.register(
        "robots_pages",
        pd.DataFrame(ROBOTS_CASES, columns=["doc_id", "html"]),
    )
    duck = con.execute(
        robots_meta_oracle_sql(source="SELECT doc_id, html FROM robots_pages")
        + " ORDER BY doc_id"
    ).fetchall()
    assert got == [tuple(r) for r in duck]


def test_robots_meta_plan_is_zero_exchange(spark):
    from nous_spark.operators.webgraph import robots_meta

    pages = spark.createDataFrame(ROBOTS_CASES, "doc_id long, html string")
    plan = robots_meta(pages)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_robots_meta_composes_with_streaming(spark, tmp_path):
    """robots_meta is a stateless codegen map (see its plan gate), so
    the compliance flags can be stamped AT INGEST on a readStream
    frame. Stream == batch."""
    from nous_spark.operators.webgraph import robots_meta

    src = str(tmp_path / "robots_src")
    pages = spark.createDataFrame(ROBOTS_CASES, "doc_id long, html string")
    pages.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, html string").parquet(src)
    q = (
        robots_meta(stream)
        .writeStream.format("memory")
        .queryName("robots_stream_q")
        .option("checkpointLocation", str(tmp_path / "cp_robots"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["robots_noindex"], r["robots_nofollow"])
        for r in spark.sql("select * from robots_stream_q").collect()
    }
    want = {
        r["doc_id"]: (r["robots_noindex"], r["robots_nofollow"])
        for r in robots_meta(pages).collect()
    }
    assert got == want and len(want) == len(ROBOTS_CASES)


# ---------------------------------------------------------------------------
# domain_quality_gate: whole-domain keep/drop on mean score
# ---------------------------------------------------------------------------
SCORED = [
    # spam.net: 3 docs, mean 0.2 -> dropped (n >= min_docs, below thr)
    (1, "https://a.spam.net/1", 0.2),
    (2, "https://b.spam.net/2", 0.1),
    (3, "https://spam.net/3", 0.3),
    # good.org: 3 docs, mean 0.8 -> kept
    (4, "https://good.org/1", 0.9),
    (5, "https://good.org/2", 0.7),
    (6, "https://www.good.org/3", 0.8),
    # tiny.io: 2 docs below threshold BUT n < min_docs -> kept (guard)
    (7, "https://tiny.io/1", 0.1),
    (8, "https://tiny.io/2", 0.2),
    # boundary: mean exactly == threshold -> kept (>=)
    (9, "https://edge.com/1", 0.5),
    (10, "https://edge.com/2", 0.5),
    (11, "https://edge.com/3", 0.5),
    # NULL url -> '' bucket (must NOT vanish through the domain join)
    (12, None, 0.9),
]


def test_domain_quality_gate_semantics(spark):
    from nous_spark.operators.webgraph import domain_quality_gate

    docs = spark.createDataFrame(
        SCORED, "doc_id long, url string, quality_score double"
    )
    got = {
        r["doc_id"]: (
            r["domain"], r["domain_n_docs"],
            r["domain_mean_score"], r["domain_keep"],
        )
        for r in domain_quality_gate(
            docs, min_mean_score=0.5, min_docs=3
        ).collect()
    }
    assert len(got) == len(SCORED)  # gate annotates, never drops rows
    # subdomains collapse onto the registrable domain
    assert got[1] == ("spam.net", 3, 0.2, False)
    assert got[2][0] == "spam.net" and got[3][3] is False
    assert got[4] == ("good.org", 3, 0.8, True)
    assert got[6][0] == "good.org"
    # insufficient evidence -> kept despite low mean
    assert got[7] == ("tiny.io", 2, 0.15, True)
    # mean == threshold -> kept
    assert got[9] == ("edge.com", 3, 0.5, True)
    # NULL url survives in the '' bucket (1 doc < min_docs -> kept)
    assert got[12] == ("", 1, 0.9, True)


def test_domain_quality_gate_duckdb_oracle(spark):
    from nous_spark.operators.webgraph import (
        domain_quality_gate,
        domain_quality_gate_oracle_sql,
    )

    docs = spark.createDataFrame(
        SCORED, "doc_id long, url string, quality_score double"
    )
    got = sorted(
        tuple(r)
        for r in domain_quality_gate(
            docs, min_mean_score=0.5, min_docs=3
        ).collect()
    )
    con = duckdb.connect()
    con.register(
        "scored_docs",
        pd.DataFrame(SCORED, columns=["doc_id", "url", "quality_score"]),
    )
    duck = sorted(
        tuple(r)
        for r in con.execute(
            domain_quality_gate_oracle_sql(
                source="SELECT doc_id, url, quality_score FROM scored_docs",
                min_mean_score=0.5,
                min_docs=3,
            )
        ).fetchall()
    )
    assert got == duck


# ---------------------------------------------------------------------------
# url_revisit_diff: cross-snapshot crawl diff
# ---------------------------------------------------------------------------
def test_url_revisit_diff_semantics(spark):
    from nous_spark.operators.webgraph import url_revisit_diff

    prev = spark.createDataFrame(
        [
            ("u1", "h1"),        # unchanged
            ("u2", "h2"),        # changed
            ("u3", "h3"),        # gone
            ("u4", "ha"), ("u4", "hb"),  # dup rows -> min-hash canon
            ("u6", None),        # NULL hash must still count as present
        ],
        "url string, content_md5 string",
    )
    curr = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h2x"), ("u4", "ha"), ("u5", "h5"),
         ("u6", None)],
        "url string, content_md5 string",
    )
    got = {
        r["url"]: (r["prev_md5"], r["curr_md5"], r["status"])
        for r in url_revisit_diff(prev, curr).collect()
    }
    assert got == {
        "u1": ("h1", "h1", "unchanged"),
        "u2": ("h2", "h2x", "changed"),
        "u3": ("h3", None, "gone"),
        "u4": ("ha", "ha", "unchanged"),  # deterministic min canon
        "u5": (None, "h5", "new"),
        "u6": ("", "", "unchanged"),  # NULL -> '' sentinel, not 'new'
    }


def test_url_revisit_diff_null_url_is_one_row(spark):
    """A NULL-url capture present in both snapshots is one compared row
    keyed '', not a 'gone' row plus a 'new' row; the oracle agrees."""
    from nous_spark.operators.webgraph import (
        url_revisit_diff,
        url_revisit_diff_oracle_sql,
    )

    prev_rows = [(None, "h0"), ("u1", "h1")]
    curr_rows = [(None, "h0"), ("u1", "h2")]
    prev = spark.createDataFrame(prev_rows, "url string, content_md5 string")
    curr = spark.createDataFrame(curr_rows, "url string, content_md5 string")
    got = sorted(tuple(r) for r in url_revisit_diff(prev, curr).collect())
    assert got == [("", "h0", "h0", "unchanged"), ("u1", "h1", "h2", "changed")]
    con = duckdb.connect()
    con.register("prev_snap", pd.DataFrame(prev_rows, columns=["url", "content_md5"]))
    con.register("curr_snap", pd.DataFrame(curr_rows, columns=["url", "content_md5"]))
    duck = sorted(
        tuple(r)
        for r in con.execute(
            url_revisit_diff_oracle_sql(
                "SELECT * FROM prev_snap", "SELECT * FROM curr_snap"
            )
        ).fetchall()
    )
    assert duck == got


def test_url_revisit_diff_duckdb_oracle(spark):
    from nous_spark.operators.webgraph import (
        url_revisit_diff,
        url_revisit_diff_oracle_sql,
    )

    prev_rows = [("u1", "h1"), ("u2", "h2"), ("u3", "h3")]
    curr_rows = [("u1", "h1"), ("u2", "zz"), ("u9", "h9")]
    prev = spark.createDataFrame(prev_rows, "url string, content_md5 string")
    curr = spark.createDataFrame(curr_rows, "url string, content_md5 string")
    got = sorted(tuple(r) for r in url_revisit_diff(prev, curr).collect())
    con = duckdb.connect()
    con.register("prev_snap", pd.DataFrame(prev_rows, columns=["url", "content_md5"]))
    con.register("curr_snap", pd.DataFrame(curr_rows, columns=["url", "content_md5"]))
    duck = sorted(
        tuple(r)
        for r in con.execute(
            url_revisit_diff_oracle_sql(
                "SELECT * FROM prev_snap", "SELECT * FROM curr_snap"
            )
        ).fetchall()
    )
    assert got == duck


# ---------------------------------------------------------------------------
# domain_reciprocity: link-farm signal
# ---------------------------------------------------------------------------
RECIP_PAIRS = [
    # a <-> b reciprocal ring; a -> c one-way; c -> d one-way;
    # duplicates + a self loop that must be dropped
    ("a.com", "b.com"), ("b.com", "a.com"), ("b.com", "a.com"),
    ("a.com", "c.com"), ("c.com", "d.com"), ("a.com", "a.com"),
]


def test_domain_reciprocity_semantics(spark):
    from nous_spark.operators.webgraph import domain_reciprocity

    pairs = spark.createDataFrame(
        RECIP_PAIRS, "src_domain string, dst_domain string"
    )
    got = {
        r["domain"]: (
            r["out_deg"], r["in_deg"], r["n_reciprocal"], r["reciprocity"]
        )
        for r in domain_reciprocity(pairs).collect()
    }
    assert got["a.com"] == (2, 1, 1, 0.5)   # -> b (recip), -> c; self loop dropped
    assert got["b.com"] == (1, 1, 1, 1.0)   # dup edge counted once
    assert got["c.com"] == (1, 1, 0, 0.0)
    assert got["d.com"] == (0, 1, 0, None)  # sink: no out edges -> NULL rate
    assert len(got) == 4


def test_domain_reciprocity_duckdb_oracle(spark):
    from nous_spark.operators.webgraph import (
        domain_reciprocity,
        domain_reciprocity_oracle_sql,
    )

    pairs = spark.createDataFrame(
        RECIP_PAIRS, "src_domain string, dst_domain string"
    )
    got = sorted(tuple(r) for r in domain_reciprocity(pairs).collect())
    con = duckdb.connect()
    con.register(
        "pair_rows",
        pd.DataFrame(RECIP_PAIRS, columns=["src_domain", "dst_domain"]),
    )
    duck = sorted(
        tuple(r)
        for r in con.execute(
            domain_reciprocity_oracle_sql(
                source="SELECT src_domain, dst_domain FROM pair_rows"
            )
        ).fetchall()
    )
    assert got == duck


# ---------------------------------------------------------------------------
# web -> KG bridge: mined anchors are alias identifiers
# ---------------------------------------------------------------------------
def test_anchor_profiles_feed_entity_linking(spark):
    """The tier's thesis end-to-end: crawl HTML -> html_links ->
    anchor_text_profiles -> dominant anchors as 'aliases' identifier
    values -> the existing MinHash-LSH alias discovery
    (linking.lsh_alias_candidates) links the two URL-entities whose
    dominant anchors are near-identical strings, and never touches the
    unrelated one."""
    from nous_spark.linking import lsh_alias_candidates
    from nous_spark.operators.text import html_links
    from nous_spark.operators.webgraph import anchor_text_profiles

    a = '<a href="https://ibm.com/">International Business Machines</a>'
    b = ('<a href="https://ibm.co.uk/">International Business Machines'
         " Corp</a>")
    c = '<a href="https://unrelated.org/">Quantum Bakery</a>'
    pages = spark.createDataFrame(
        [(1, a), (2, a), (3, a), (4, b), (5, b), (6, b), (7, c), (8, c)],
        "doc_id long, html string",
    )
    profiles = anchor_text_profiles(html_links(pages))
    identifiers = profiles.filter(F.col("top_anchor").isNotNull()).select(
        F.col("href").alias("anchor_id"),
        F.lit("aliases").alias("id_type"),
        F.col("top_anchor").alias("id_value"),
    )
    pairs = [
        (r["src"], r["dst"], r["sim"])
        for r in lsh_alias_candidates(identifiers, threshold=0.5).collect()
    ]
    assert len(pairs) == 1
    src, dst, sim = pairs[0]
    assert {src, dst} == {"https://ibm.com/", "https://ibm.co.uk/"}
    assert sim >= 0.5


# ---------------------------------------------------------------------------
# scale defense: mega-URL anchor fan-in
# ---------------------------------------------------------------------------
def test_anchor_profiles_mega_href_fan_in(spark):
    """The 100 TB failure mode for anchor mining: one viral URL with
    ~n inbound links (here 60k links, 1k distinct anchor variants onto
    ONE href plus a long tail). WindowGroupLimit's partial top-1 keeps
    the per-task state at one row per (href) and the exchange under the
    window carries at most n_map_partitions rows per href — the job
    must stay sub-linear in the hot href's fan-in and the counts must
    stay exact."""
    from nous_spark.operators.webgraph import anchor_text_profiles

    n_hot, n_variants, n_tail = 60_000, 1_000, 500
    hot = spark.range(n_hot).select(
        F.col("id").alias("doc_id"),
        F.lit("https://viral.example/").alias("href"),
        # variant v = id % 1000; anchor 'a0000'..'a0999'; v==0 doubled
        # via the tail below never — frequency is uniform 60 each, tie
        # broken to the lexicographically smallest 'a0000'
        F.format_string("a%04d", (F.col("id") % n_variants)).alias("anchor"),
    )
    tail = spark.range(n_tail).select(
        (F.col("id") + n_hot).alias("doc_id"),
        F.format_string("https://t%d.example/", F.col("id")).alias("href"),
        F.lit("tail anchor").alias("anchor"),
    )
    prof = anchor_text_profiles(hot.unionByName(tail)).persist()
    hot_row = prof.filter(F.col("href") == "https://viral.example/").collect()
    assert len(hot_row) == 1
    r = hot_row[0]
    assert r["n_inlinks"] == n_hot
    assert r["n_src_docs"] == n_hot
    assert r["n_distinct_anchors"] == n_variants
    # uniform 60-per-variant tie -> smallest anchor wins deterministically
    assert r["top_anchor"] == "a0000" and r["top_anchor_count"] == n_hot // n_variants
    assert prof.count() == 1 + n_tail
    prof.unpersist()


# ---------------------------------------------------------------------------
# latest_snapshot: multi-capture collapse
# ---------------------------------------------------------------------------
def test_latest_snapshot_semantics(spark):
    from datetime import datetime

    from nous_spark.operators.webgraph import latest_snapshot

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    t1 = datetime(2024, 1, 1, 1, 0, 0)
    rows = [
        ("u1", t0, "old"), ("u1", t1, "new"),        # newest wins
        ("u2", t0, "only"),                          # singleton passes
        # exact-ts tie -> smallest md5(text) wins deterministically
        ("u3", t1, "alpha"), ("u3", t1, "beta"),
    ]
    pages = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    got = {
        r["url"]: (r["warc_ts"], r["text"])
        for r in latest_snapshot(pages).collect()
    }
    import hashlib
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    tie_winner = min(["alpha", "beta"], key=md5)
    assert got == {"u1": (t1, "new"), "u2": (t0, "only"), "u3": (t1, tie_winner)}


def test_latest_snapshot_duckdb_oracle(spark):
    from datetime import datetime

    from nous_spark.operators.webgraph import (
        latest_snapshot,
        latest_snapshot_oracle_sql,
    )

    rows = [
        ("u1", datetime(2024, 1, 1, 0), "a"),
        ("u1", datetime(2024, 1, 2, 0), "b"),
        ("u2", datetime(2024, 1, 1, 5), "c"),
        ("u2", datetime(2024, 1, 1, 5), "d"),
    ]
    pages = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    got = sorted((r["url"], str(r["warc_ts"]), r["text"])
                 for r in latest_snapshot(pages).collect())
    con = duckdb.connect()
    con.register("snaps", pd.DataFrame(rows, columns=["url", "warc_ts", "text"]))
    duck = sorted((u, str(t), x) for u, t, x in con.execute(
        latest_snapshot_oracle_sql(source="SELECT * FROM snaps")
    ).fetchall())
    assert got == duck


def test_latest_snapshot_plan_uses_window_group_limit(spark):
    from datetime import datetime

    from nous_spark.operators.webgraph import latest_snapshot

    pages = spark.createDataFrame(
        [("u1", datetime(2024, 1, 1), "t")],
        "url string, warc_ts timestamp, text string",
    )
    plan = latest_snapshot(pages)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_html_links_compose_with_streaming(spark, tmp_path):
    """Link extraction is a stateless generate+project (see
    html_links' plan gate), so web-graph edges can be emitted AT INGEST
    on a readStream frame — together with robots_meta and
    link_quality_signals the whole crawl-ingest chain streams.
    Stream == batch."""
    from nous_spark.operators.text import html_links

    src = str(tmp_path / "links_src")
    pages = spark.createDataFrame(
        [
            (1, '<a href="https://a.com/?x=1&amp;y=2">A &amp; B</a>'),
            (2, '<a href="u1">one <b>bold</b></a><a href="">empty</a>'),
            (3, None),
        ],
        "doc_id long, html string",
    )
    pages.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, html string").parquet(src)
    q = (
        html_links(stream)
        .writeStream.format("memory")
        .queryName("links_stream_q")
        .option("checkpointLocation", str(tmp_path / "cp_links"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r) for r in spark.sql("select * from links_stream_q").collect()
    )
    want = sorted(tuple(r) for r in html_links(pages).collect())
    assert got == want and len(want) == 3
