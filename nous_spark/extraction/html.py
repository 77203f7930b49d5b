"""Deterministic HTML -> text extraction.

BASELINE.json's per-row invariant: the extracted ``text`` must be
byte-identical per ``url`` across runs and parallelism levels. The
extractor is a pure function of the html bytes (no randomness, no state,
no locale dependence), called per page inside
``pipeline.stage_extract``'s fused ``mapInPandas`` pass.

The algorithm is a small, fully-specified subset of html2text:
  1. utf-8 decode (errors="replace" — deterministic replacement char);
  2. drop <script>/<style>/<head> element contents and comments;
  3. block-level closing tags and <br> become newlines;
  4. all remaining tags are stripped;
  5. entities unescaped (html.unescape);
  6. whitespace canonicalized: per line, runs of spaces/tabs collapse to
     one space and the line is stripped; empty lines dropped; lines
     joined with a single "\n".

Step 6 makes the function idempotent (extract(extract(x)) == extract(x)
for text-only input), which is what guarantees byte-identity regardless
of how the page was produced.
"""

from __future__ import annotations

import html as _html
import re

_RE_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)
_RE_DROP = re.compile(
    r"<(script|style|head)\b[^>]*>.*?</\1\s*>", re.DOTALL | re.IGNORECASE
)
_RE_BLOCK_BREAK = re.compile(
    r"</(?:p|div|li|ul|ol|h[1-6]|tr|table|blockquote|section|article|header|footer)\s*>"
    r"|<br\s*/?>",
    re.IGNORECASE,
)
_RE_TAG = re.compile(r"<[^>]*>")
_RE_SPACES = re.compile(r"[ \t\r\f\v]+")


def extract_text_str(raw: bytes | str | None) -> str:
    """Pure scalar form — used by the extract stage and by tests/datagen."""
    if raw is None:
        return ""
    s = raw.decode("utf-8", errors="replace") if isinstance(raw, (bytes, bytearray)) else raw
    s = _RE_COMMENT.sub("", s)
    s = _RE_DROP.sub("", s)
    s = _RE_BLOCK_BREAK.sub("\n", s)
    s = _RE_TAG.sub("", s)
    s = _html.unescape(s)
    lines = []
    for line in s.split("\n"):
        line = _RE_SPACES.sub(" ", line).strip()
        if line:
            lines.append(line)
    return "\n".join(lines)
