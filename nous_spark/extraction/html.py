"""Deterministic HTML -> text: ``HTML_STRIP_STEPS``, the ONE spec, and
its Python fold ``extract_text_str``.

Three engines fold the table verbatim: ``extract_text_str`` inside
``pipeline.stage_extract``'s fused ``mapInPandas`` pass (the html already
crosses into Python there), ``operators.text.html_extract`` as Columns,
and ``html_extract_oracle_sql`` as generated DuckDB SQL. Edit the table,
never a fold.

The fold is a pure function of the html, so ``text`` is byte-identical
per url across runs (BASELINE.json). The last step turns each run of
non-newline ``str.isspace()`` characters into one space, so kept lines
are ``str.strip()``-clean without double spaces, and the fold is
idempotent on text that holds no tag or table entity.

Deliberately lexical, not a browser's reading: entities outside the
table stay literal (``&eacute;``, ``&#233;``); every tag that is not a
line break becomes a space (``Hel<b>lo</b>`` -> ``Hel lo``); ``<hr>``
breaks lines like ``<br>``; ``<head>`` drops whole, so ``<title>`` text
is not part of ``text`` (nor of ``doc_html_extract``).
"""

from __future__ import annotations

import re
from functools import partial

from nous_spark.normalize import PY_SPACE_CHARS

_WS = PY_SPACE_CHARS.replace("\n", "")  # every str.isspace() char but "\n"

# The common dialect of Java regex, RE2 (DuckDB) and Python re, for every
# pattern more than one engine folds: inline (?s) only, lazy .*?, no
# backreferences, and no (?i), \b or \s. Those three match differently per
# engine: (?i) folds non-ASCII case variants (U+017F 'ſ' as 's', U+0131
# 'ı' as 'i') in Python and RE2 but not in Java; \s and \b follow each
# engine's own whitespace and word classes. So letters are spelled as
# ASCII case classes (``ascii_ci``) and whitespace as ``ASCII_SPACE``.
ASCII_SPACE = r"[ \t\n\f\r]"


def ascii_ci(word: str) -> str:
    """``word`` with each ASCII letter as a two-case class: 'li' -> '[Ll][Ii]'."""
    return "".join(f"[{c.upper()}{c.lower()}]" if c.isascii() and c.isalpha() else c for c in word)


# An ORDERED chain. kind "re" is a regex replace in the common dialect
# above; kind "lit" is a literal substring replace. Ordering is
# load-bearing: script/style/comment/head blocks go first (their CONTENT
# must never leak into text), block-close tags become newlines BEFORE
# the generic tag strip erases them, and entity unescapes run after the
# tags with &amp; last, so double-encoded '&amp;lt;' decodes to '&lt;',
# not '<'. The <head> pattern must not match <header>.
_BLOCKS = "p|div|h[1-6]|li|ul|ol|tr|table|blockquote|section|article|header|footer"
HTML_STRIP_STEPS: tuple[tuple[str, str, str], ...] = (
    ("re", rf"(?s)<{ascii_ci('script')}[^>]*>.*?</{ascii_ci('script')}>", " "),
    ("re", rf"(?s)<{ascii_ci('style')}[^>]*>.*?</{ascii_ci('style')}>", " "),
    ("re", r"(?s)<!--.*?-->", " "),
    ("re", rf"(?s)<{ascii_ci('head')}(?:[ \t\r\n/][^>]*)?>.*?</{ascii_ci('head')}>", " "),
    ("re", f"<(?:{ascii_ci('br|hr')})[^>]*>", "\n"),
    ("re", f"</(?:{ascii_ci(_BLOCKS)})>", "\n"),
    ("re", r"<[^>]*>", " "),
    ("lit", "&lt;", "<"),
    ("lit", "&gt;", ">"),
    ("lit", "&quot;", '"'),
    ("lit", "&#39;", "'"),
    ("lit", "&#x27;", "'"),
    ("lit", "&nbsp;", " "),
    ("lit", "&amp;", "&"),
    # runs of _WS -> one space; a lone " " stays unmatched (rewriting it
    # in place was most of the Python fold's cost)
    ("re", f"[{_WS.replace(' ', '')}][{_WS}]*| [{_WS}]+", " "),
)


def _compile(kind: str, pat: str, rep: str):
    if kind == "re":
        return partial(re.compile(pat).sub, rep)
    return lambda s: s.replace(pat, rep)


_FOLD = tuple(_compile(*step) for step in HTML_STRIP_STEPS)


def extract_text_str(raw: bytes | str | None) -> str:
    """The pipeline's fold of ``HTML_STRIP_STEPS``; bytes are decoded as
    utf-8 with errors="replace" (deterministic U+FFFD)."""
    if raw is None:
        return ""
    s = raw.decode("utf-8", errors="replace") if isinstance(raw, (bytes, bytearray)) else raw
    for step in _FOLD:
        s = step(s)
    return "\n".join(ln for ln in (ln.strip(" ") for ln in s.split("\n")) if ln)
