"""The literal gates in front of the extraction regexes change cost, never
output.

``extract_triples_text`` runs a pattern row only on sentences holding one
of the row's literals, and ``extract_mentions_text`` runs a mention regex
only when its required character or substring is present. Both are checked
here against test-local copies of the ungated loops they replaced, on
hypothesis text built from every row's trigger words, on whitespace and
case-fold edge characters, on the golden cases and on datagen pages with
and without boilerplate fill.
"""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from nous_spark.datagen import gen_row
from nous_spark.extraction import mentions as M
from nous_spark.extraction import triples as T
from nous_spark.extraction.html import extract_text_str
from nous_spark.golden import GOLDEN
from nous_spark.normalize import norm_identifier_value
from nous_spark.schemas import IDENTIFIER_TYPES


# ------------------------------------------------------------ ungated oracles
def ungated_triples(text):
    """Every pattern over every sentence, as before the gate."""
    if not text:
        return []
    out, seen = [], set()
    for sentence in T._SENT_SPLIT.split(text):
        sentence = sentence.strip()
        if not sentence or T._META.search(sentence):
            continue
        for _, rx, handler in T._PATTERNS:
            for m in rx.finditer(sentence):
                for trip in handler(m):
                    if trip is not None and trip[:3] not in seen:
                        seen.add(trip[:3])
                        out.append(trip)
    return out


def ungated_mentions(text):
    """Every mention regex over the whole text, with the explicit lines
    masked by a second ``sub`` scan, as before the gates."""
    if not text:
        return []
    found = []
    for m in M._RE_EXPLICIT.finditer(text):
        found.append((m.start(), m.group(1).lower(), norm_identifier_value(m.group(2))))
    masked = M._RE_EXPLICIT.sub(lambda m: " " * (m.end() - m.start()), text)
    for m in M._RE_EMAIL.finditer(masked):
        found.append((m.start(), "email", norm_identifier_value(m.group(0).lower())))
    for m in M._RE_HANDLE.finditer(masked):
        found.append((m.start(), "username", norm_identifier_value(m.group(1))))
    for m in M._RE_PHONE.finditer(masked):
        found.append((m.start(), "phone", norm_identifier_value(m.group(0))))
    for m in M._RE_UUID.finditer(masked):
        found.append((m.start(), "uuid", norm_identifier_value(m.group(0).lower())))
    for m in M._RE_SOCIAL.finditer(masked):
        platform = next(
            M._SOCIAL_PLATFORM[k] for k, v in m.groupdict().items() if v and k != "handle"
        )
        found.append(
            (m.start(), "social_id", norm_identifier_value(f"{platform}:{m.group('handle').lower()}"))
        )
    found.sort(key=lambda x: x[0])
    out, seen = [], set()
    for _, t, v in found:
        if t in IDENTIFIER_TYPES and v and (t, v) not in seen:
            seen.add((t, v))
            out.append((t, v))
    return out


def assert_identical(text):
    assert T.extract_triples_text(text) == ungated_triples(text), text
    assert M.extract_mentions_text(text) == ungated_mentions(text), text


# ------------------------------------------------------------ input strategies
TRIGGERS = [
    "enjoy", "enjoys", "don't", "do not", "doesn't", "does not", "dislike",
    "dislikes", "Dislikes", "like", "likes", "not likes", "n't likes", "love",
    "loves", "live in", "lives in", "work", "works as a", "works as an", "at",
    "vivo en", "Vivo en", "trabajo como", "de", "me llamo", "Me llamo", "llamo",
    "headquartered in", "founded in", "1998", "studied at", "graduated from",
    "speak", "speaks", "was born in", "born in", "moved to", "married to",
    "think", "thinks that", "is a bad idea", "is a good idea", "is a great idea",
    "idea", "allergic to", "play", "plays", "is the CEO of", "CEO of", "ceo of",
    "own a", "owns an", "vamos abrir", "vou abrir", "uma empresa", "um negócio",
    "uma loja", "nova", "que", "now", "today", "and", "e", "on", "with",
    "every", "placeholder", "test entity",
]
WORDS = [
    "Juan", "Perez", "Paris", "San Francisco", "Apple Inc.", "Bank of America",
    "hiking", "chess", "peanuts", "English", "Spanish", "software engineer",
    "I", "She", "he", "the", "new", "project", "ivory", "towns", "player",
    "networking", "lovely", "Kiel", "İstanbul", "ſtudied", "Karl",
]
MENTION_BITS = [
    "Identity:", "IDENTITY:", "ıdentity:", "email:", "phone:", "uuid:",
    "username:", "social_id:", "github:bob", "a@b.com", "x.y+z@mail.example.org",
    "@handle_1", "@", "+4915112345678", "+", "+12", "123e4567-e89b-12d3-a456-426614174000",
    "123E4567-E89B-12D3-A456-426614174000", "-", "https://github.com/Alice-Dev",
    "www.linkedin.com/in/alice-dev", "x.com/@alicedev", "TWITTER.COM/Bob",
    "instagram.com/ſam", "github.Kom/x", "GİTHUB.com/ab", ".com/", ".COM/",
]
PUNCT = [".", ",", ";", "!", "?", "'", ":", "/", "\n"]
SEPARATORS = [" ", " ", " ", "  ", "\t", "\xa0", "\x1c", "\x1d", "\x1e", "\x1f", "\n", ""]
EDGE_CHARS = ["K", "İ", "ſ", "ı", "K", "k", "S", "s"]

TOKENS = st.sampled_from(TRIGGERS + WORDS + MENTION_BITS + PUNCT + EDGE_CHARS)
LEXICON_TEXT = st.lists(
    st.tuples(TOKENS, st.sampled_from(SEPARATORS)), max_size=40
).map(lambda pairs: "".join(tok + sep for tok, sep in pairs))
RAW_TEXT = st.text(
    alphabet=st.sampled_from(
        list("abcdeiklmnorstvwyACDEIKLMOST@+-./:'!?,; 0123456789")
        + list("\t\xa0\x1c\x1d\x1e\x1f\n") + EDGE_CHARS
    ),
    max_size=120,
)


@given(LEXICON_TEXT)
@settings(max_examples=400, deadline=None)
def test_gated_equals_ungated_on_lexicon_text(text):
    assert_identical(text)


@given(RAW_TEXT)
@settings(max_examples=300, deadline=None)
def test_gated_equals_ungated_on_raw_text(text):
    assert_identical(text)


@given(st.lists(st.sampled_from(MENTION_BITS + EDGE_CHARS + SEPARATORS), max_size=30))
@settings(max_examples=300, deadline=None)
def test_mention_gates_on_case_fold_text(bits):
    # IGNORECASE regexes (_RE_SOCIAL, _RE_UUID, _RE_EXPLICIT) next to
    # characters whose case mapping is not one-to-one
    assert_identical("".join(bits))


def test_gated_equals_ungated_on_golden_cases():
    for g in GOLDEN:
        assert_identical(T.with_history(g.get("history"), g["text"]))


def test_gated_equals_ungated_on_datagen_pages():
    for fill in (0, 32):
        for i in range(2000):
            assert_identical(extract_text_str(gen_row(i, 7, fill)[0]["html"]))


def test_literal_never_spans_whitespace():
    # a "me llamo" literal would drop this: the regex allows any \s+ run
    text = "Me  llamo Juan Perez."
    assert T.extract_triples_text(text) == ungated_triples(text)
    assert T.extract_triples_text(text) == [("is_named", "Name", "Juan Perez", 0.95)]


def test_every_pattern_row_carries_its_literals():
    """A row's literals must be non-empty and appear in its own regex
    source, so a new pattern cannot be gated out by a missing entry."""
    for lits, rx, _ in T._PATTERNS:
        assert lits and all(isinstance(lit, str) and lit for lit in lits), rx.pattern
        for lit in lits:
            assert lit in rx.pattern, (lit, rx.pattern)
        # literals are matched case-exactly
        assert not rx.flags & re.IGNORECASE, rx.pattern
