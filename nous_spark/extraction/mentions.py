"""Typed identifier-mention detection per page.

The reference receives the subject identifier explicitly with each
assimilate request (dtos/knowledge_dto.py:65-82, ``identifier: {type,
value}``, type in {email, phone, username, uuid, social_id} —
models/identifier_model.py:38-43). A batch web-scale pipeline has no
request envelope, so the subject identifier is detected from the page
content deterministically:

  * an explicit ``Identity: <type>:<value>`` line (how our synthetic
    corpus — and any cooperative upstream — declares the subject);
  * ``mailto:`` hrefs and bare RFC-ish emails        -> type=email;
  * ``@handle`` tokens                                -> type=username;
  * E.164-ish phone numbers (+NNNNNNN...)             -> type=phone;
  * canonical-form UUIDs                              -> type=uuid;
  * social profile URLs (linkedin/github/twitter|x/
    instagram), value "platform:handle"               -> type=social_id.

The FIRST mention in document order is the page's subject (mirrors the
one-identifier-per-request contract); all mentions are kept for alias
linking / connected components.
"""

from __future__ import annotations

import re

from nous_spark.normalize import norm_identifier_value
from nous_spark.schemas import IDENTIFIER_TYPES

_RE_EXPLICIT = re.compile(
    r"\bIdentity:\s*(email|phone|username|uuid|social_id):(\S+)", re.IGNORECASE
)
_RE_EMAIL = re.compile(r"\b[\w.+-]+@[\w-]+(?:\.[\w-]+)+\b")
_RE_HANDLE = re.compile(r"(?<![\w.+-])@([A-Za-z_][\w.]{2,})\b")
_RE_PHONE = re.compile(r"(?<![\w.])\+\d{7,15}\b")
_RE_UUID = re.compile(
    r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b", re.IGNORECASE
)
# in-the-wild social_id: profile URLs of the major platforms -> a
# platform-qualified value ("github:alice"), so the same handle on two
# platforms never aliases (the reference receives social_id via the
# request envelope, models/identifier_model.py:38-43; a crawl has to
# detect it from profile links instead)
_RE_SOCIAL = re.compile(
    r"\b(?:https?://)?(?:www\.)?"
    r"(?:(?P<li>linkedin\.com/in/)|(?P<gh>github\.com/)|"
    r"(?P<tw>(?:twitter|x)\.com/)|(?P<ig>instagram\.com/))"
    r"@?(?P<handle>[A-Za-z0-9][\w.-]{1,38})\b",
    re.IGNORECASE,
)
_SOCIAL_PLATFORM = {"li": "linkedin", "gh": "github", "tw": "twitter", "ig": "instagram"}


def extract_mentions_text(text: str | None) -> list[tuple[str, str]]:
    """Scalar form: ordered, deduped (id_type, id_value) mentions."""
    if not text:
        return []
    found: list[tuple[int, str, str]] = []
    # mask explicit lines so their values are not re-detected as bare tokens
    parts: list[str] = []
    end = 0
    for m in _RE_EXPLICIT.finditer(text):
        found.append((m.start(), m.group(1).lower(), norm_identifier_value(m.group(2))))
        parts += (text[end : m.start()], " " * (m.end() - m.start()))
        end = m.end()
    masked = "".join(parts) + text[end:] if parts else text
    # presence gates: a regex runs only if the literal every one of its
    # matches contains is present (case-folded for IGNORECASE _RE_SOCIAL)
    if "@" in masked:
        for m in _RE_EMAIL.finditer(masked):
            found.append((m.start(), "email", norm_identifier_value(m.group(0).lower())))
        for m in _RE_HANDLE.finditer(masked):
            found.append((m.start(), "username", norm_identifier_value(m.group(1))))
    if "+" in masked:
        for m in _RE_PHONE.finditer(masked):
            found.append((m.start(), "phone", norm_identifier_value(m.group(0))))
    if "-" in masked:
        for m in _RE_UUID.finditer(masked):
            found.append((m.start(), "uuid", norm_identifier_value(m.group(0).lower())))
    if ".com/" in masked.lower():
        for m in _RE_SOCIAL.finditer(masked):
            platform = next(
                _SOCIAL_PLATFORM[k] for k, v in m.groupdict().items() if v and k != "handle"
            )
            value = f"{platform}:{m.group('handle').lower()}"
            found.append((m.start(), "social_id", norm_identifier_value(value)))
    found.sort(key=lambda x: x[0])
    out: list[tuple[str, str]] = []
    seen: set[tuple[str, str]] = set()
    for _, t, v in found:
        if t in IDENTIFIER_TYPES and v and (t, v) not in seen:
            seen.add((t, v))
            out.append((t, v))
    return out
