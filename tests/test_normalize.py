"""Python-side and Column-side normalization must agree byte-exactly —
they jointly define triple identity (SURVEY.md §4 item 5)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nous_spark import normalize as N

TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=40
)


@given(name=TEXT, typ=TEXT, verb=TEXT)
@settings(max_examples=200, deadline=None)
def test_python_rules(name, typ, verb):
    assert N.norm_name(name) == name.strip()
    assert N.norm_type(typ) == typ.strip()
    assert N.norm_verb(verb) == verb.strip().lower()
    if name.strip() and typ.strip():
        assert N.fact_id(N.norm_type(typ), N.norm_name(name)) == f"{typ.strip()}:{name.strip()}"


def test_confidence_clamp():
    assert N.clamp_confidence(None) == 1.0
    assert N.clamp_confidence(-2) == 0.0
    assert N.clamp_confidence(2) == 1.0
    assert N.clamp_confidence(0.5) == 0.5


def test_entity_id_deterministic():
    a = N.entity_id_for("email", "a@b.com")
    assert a == N.entity_id_for("email", "a@b.com")
    assert a != N.entity_id_for("username", "a@b.com")


def test_column_python_agreement(spark):
    rows = [
        ("  Hiking ", " Hobby ", "  ENJOYS "),
        ("empresa nova", "Business", "Plans_To_Open"),
        ("x", "y", "Z"),
        ("  spaced  out  ", "T", " MiXeD "),
    ]
    df = spark.createDataFrame(rows, "name string, typ string, verb string")
    got = df.select(
        N.norm_name_col(F.col("name")).alias("n"),
        N.norm_type_col(F.col("typ")).alias("t"),
        N.norm_verb_col(F.col("verb")).alias("v"),
        N.fact_id_col(N.norm_type_col(F.col("typ")), N.norm_name_col(F.col("name"))).alias("fid"),
    ).collect()
    for (name, typ, verb), r in zip(rows, got):
        assert r["n"] == N.norm_name(name)
        assert r["t"] == N.norm_type(typ)
        assert r["v"] == N.norm_verb(verb)
        assert r["fid"] == N.fact_id(N.norm_type(typ), N.norm_name(name))


def test_synthetic_sentence():
    # qdrant_repository.py:93-107 template
    assert (
        N.synthetic_sentence("enjoys", "Hobby", "Hiking")
        == "The entity enjoys Hobby: Hiking"
    )


def test_canonical_url_rules():
    from nous_spark.operators.text import canonical_url

    assert (
        canonical_url("HTTP://Example.COM:80/a/b?z=1&a=2#frag")
        == "http://example.com/a/b?a=2&z=1"
    )
    assert (
        canonical_url("https://example.com:443/a/b/?a=2&z=1")
        == "https://example.com/a/b/?a=2&z=1"
    )
    assert canonical_url("http://example.com") == "http://example.com/"
    assert canonical_url("http://example.com/?") == "http://example.com/"
    assert canonical_url("https://host:8443/x") == "https://host:8443/x"
    assert canonical_url(None) == "" and canonical_url("") == ""
    # idempotent
    u = canonical_url("HTTP://A.B:80/p?b=2&a=1#f")
    assert canonical_url(u) == u


def test_py_space_chars_is_python_whitespace_in_three_engines(spark):
    """PY_SPACE_CHARS is exactly str.isspace(), and the HTML -> text
    whitespace step built from it turns every such character but \\n, and
    every run of them, into one space in Java regex, DuckDB's RE2 and
    Python re alike — checked over every non-surrogate code point."""
    import re
    import sys

    import duckdb

    from nous_spark.extraction.html import HTML_STRIP_STEPS

    every = [chr(c) for c in range(sys.maxunicode + 1) if not 0xD800 <= c <= 0xDFFF]
    assert set(N.PY_SPACE_CHARS) == {c for c in every if c.isspace()}
    kind, pat, rep = HTML_STRIP_STEPS[-1]
    assert (kind, rep) == ("re", " ")
    run = N.PY_SPACE_CHARS.replace("\n", "")
    s = "x".join(every) + f"|a{run}b  c"
    want = "x".join(" " if c.isspace() and c != "\n" else c for c in every) + "|a b c"
    assert re.sub(pat, rep, s) == want
    df = spark.createDataFrame([(s,)], "s string")
    assert df.select(F.regexp_replace("s", pat, rep).alias("r")).first()["r"] == want
    # inlined as a SQL literal, the way html_extract_oracle_sql emits it
    con = duckdb.connect()
    duck = con.execute(f"SELECT regexp_replace(?, '{pat}', ' ', 'g')", [s]).fetchone()[0]
    assert duck == want
