"""Rule-based open-information-extraction (OIE) of (verb, type, name) facts.

Replaces the reference's Gemini structured-output extractor
(/root/reference/apps/api/app/features/graph/services/langchain_fact_extractor.py:60-164)
with a deterministic pattern lexicon that reproduces the behavior its
prompt mandates and its integration tests pin down
(tests/features/graph/services/test_langchain_fact_extractor_integration.py):

  * ``type`` and ``verb`` are English; ``name`` stays in the source
    language (langchain_fact_extractor.py:70);
  * statements of fact INCLUDING sentiments/opinions are extracted
    (prompt examples :80-96 — "I think that new project is a bad idea"
    -> (considers_bad_idea, Opinion:new project));
  * generic/meta text yields ZERO facts (:78; test :102-113);
  * every fact carries a confidence in [0,1].

Execution model: pure scalar function `extract_triples_text`, called per
page inside `pipeline.stage_extract`'s fused `mapInPandas` pass (and by
`streaming`, which reuses that stage). Patterns are compiled once per
Python worker at module import. Each pattern row carries the literals
its matches must contain, and one alternation of all of them gates each
sentence, so a sentence with no trigger word (most boilerplate) costs one
scan instead of one per pattern.
"""

from __future__ import annotations

import re

from nous_spark.normalize import clamp_confidence, norm_name, norm_type, norm_verb

# --------------------------------------------------------------------------
# building blocks
# --------------------------------------------------------------------------
# A proper-noun phrase: capitalized words (incl. "San Francisco", "Apple Inc.")
_PROPER = r"((?:[A-Z][\w&.'-]*)(?:\s+(?:of\s+)?[A-Z][\w&.'-]*)*)"
# A lowercase object phrase terminated by a stop-preposition or punctuation
_OBJ_STOP = r"(?:\s+(?:on|at|in|with|every|during|for|since|when|while)\b|[,.;!?]|$)"

_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+|\n+")
_LIST_SPLIT = re.compile(r"\s*,\s*|\s+and\s+|\s+e\s+")

# Sentences that are generic/meta-text produce no facts
# (langchain_fact_extractor.py:78; golden g05).
_META = re.compile(
    r"\b(test entity|minimal information|lorem ipsum|sample (?:text|content)|"
    r"placeholder|this is (?:a|just a) test)\b",
    re.IGNORECASE,
)


def _cap(s: str) -> str:
    """Capitalize the first character only (hiking -> Hiking)."""
    return s[:1].upper() + s[1:] if s else s


def _proper(s: str) -> str:
    """Trim sentence punctuation a proper-noun capture may have swallowed."""
    return s.rstrip(".,;:!?")


def _mk(verb: str, ftype: str, name: str, conf: float):
    name = norm_name(name)
    if not name:
        return None
    return (norm_verb(verb), norm_type(ftype), name, clamp_confidence(conf))


def _split_list(phrase: str) -> list[str]:
    return [p.strip() for p in _LIST_SPLIT.split(phrase) if p.strip()]


# --------------------------------------------------------------------------
# pattern lexicon — each entry: (literals, compiled_regex, handler(match) -> list)
# --------------------------------------------------------------------------
def _h_enjoys(m):
    return [_mk("enjoys", "Hobby", _cap(x), 0.95) for x in _split_list(m.group(1))]


def _h_dislikes(m):
    return [_mk("dislikes", "Preference", _cap(x), 0.95) for x in _split_list(m.group(1))]


def _h_likes(m):
    return [_mk("likes", "Preference", _cap(x), 0.9) for x in _split_list(m.group(1))]


def _h_loves(m):
    return [_mk("loves", "Preference", _cap(x), 0.9) for x in _split_list(m.group(1))]


def _h_lives_in(m):
    return [_mk("lives_in", "Location", _proper(m.group(1)), 0.98)]


def _h_works_as(m):
    return [_mk("works_as", "Profession", _proper(m.group(1)), 0.98)]


def _h_works_at(m):
    return [_mk("works_at", "Company", _proper(m.group(1)), 0.98)]


def _h_hq(m):
    return [_mk("headquartered_in", "Location", _proper(part), 0.98) for part in _split_list(m.group(1))]


def _h_founded(m):
    return [_mk("founded_in", "Year", m.group(1), 0.98)]


def _h_studied(m):
    return [_mk("studied_at", "Institution", _proper(m.group(1)), 0.95)]


def _h_speaks(m):
    return [_mk("speaks", "Language", _cap(x), 0.95) for x in _split_list(m.group(1))]


def _h_born_in(m):
    return [_mk("born_in", "Location", _proper(m.group(1)), 0.95)]


def _h_moved_to(m):
    return [_mk("moved_to", "Location", _proper(m.group(1)), 0.9)]


def _h_married_to(m):
    return [_mk("married_to", "Person", _proper(m.group(1)), 0.95)]


def _h_bad_idea(m):
    return [_mk("considers_bad_idea", "Opinion", m.group(1), 0.85)]


def _h_good_idea(m):
    return [_mk("considers_good_idea", "Opinion", m.group(1), 0.85)]


def _h_allergic(m):
    return [_mk("allergic_to", "Allergy", _cap(x), 0.95) for x in _split_list(m.group(1))]


def _h_plays(m):
    return [_mk("plays", "Activity", _cap(x), 0.9) for x in _split_list(m.group(1))]


def _h_ceo_of(m):
    return [_mk("ceo_of", "Company", _proper(m.group(1)), 0.98)]


def _h_owns(m):
    return [_mk("owns", "Possession", m.group(1), 0.9)]


def _h_abrir_pt(m):
    # Portuguese golden g06: name stays in source language, verb/type English
    # (langchain_fact_extractor.py:70; test :164-201).
    return [_mk("plans_to_open", "Business", m.group(1), 0.9)]


def _h_works_as_lower(m):
    # lowercase profession ("I work as a software engineer now.") — the
    # reference's history test (test_assimilate_..._integration.py:184-213)
    # extracts from uncapitalized phrasing; emit title case like the LLM
    # examples (langchain_fact_extractor.py:80-83).
    name = " ".join(_cap(w) for w in m.group(1).split())
    return [_mk("works_as", "Profession", name, 0.9)]


# Spanish (test :287-310): names stay in source language, verb/type English.
def _h_vivo_es(m):
    return [_mk("lives_in", "Location", _proper(m.group(1)), 0.95)]


def _h_trabajo_es(m):
    return [_mk("works_as", "Profession", m.group(1).strip(), 0.9)]


def _h_llamo_es(m):
    return [_mk("is_named", "Name", _proper(m.group(1)), 0.95)]


# Each row is (literals, regex, handler). ``literals`` gate the row: every
# match of its regex contains at least one of them verbatim, so a sentence
# holding none of them cannot match and the regex is never run. A literal
# must be a case-exact run of the regex source that no match can avoid:
# never across ``\s+``, a character class or an optional group ("llamo",
# not "me llamo"; "ivo" for "[Vv]ivo"). tests/test_extraction_gate.py
# checks every gated result against the ungated loop.
_PATTERNS: list[tuple[tuple[str, ...], re.Pattern, object]] = [
    (("enjoy",), re.compile(r"\benjoys?\s+((?:\w+)(?:(?:\s*,\s*|\s+and\s+)\w+)*)" + _OBJ_STOP), _h_enjoys),
    (
        ("don't", "do not", "doesn't", "does not", "dislike"),
        re.compile(
            r"\b(?:don't|do not|doesn't|does not|dislikes?)\s+(?:like\s+)?"
            r"((?:[\w]+)(?:(?:\s*,\s*|\s+and\s+)[\w]+)*)" + _OBJ_STOP
        ),
        _h_dislikes,
    ),
    (
        ("likes",),
        re.compile(r"(?<![Dd]is)(?<!not )(?<!n't )\blikes\s+((?:\w+)(?:(?:\s*,\s*|\s+and\s+)\w+)*)" + _OBJ_STOP),
        _h_likes,
    ),
    (("love",), re.compile(r"\bloves?\s+((?:\w+)(?:(?:\s*,\s*|\s+and\s+)\w+)*)" + _OBJ_STOP), _h_loves),
    (("live",), re.compile(r"\blives?\s+in\s+" + _PROPER), _h_lives_in),
    (("work",), re.compile(r"\bworks?\s+as\s+an?\s+" + _PROPER), _h_works_as),
    (
        ("work",),
        re.compile(
            r"\bworks?\s+as\s+an?\s+([a-z][a-z]*(?:\s+[a-z][a-z]*)*?)"
            r"(?:\s+(?:now|today|currently)\b|[,.;!?]|$)"
        ),
        _h_works_as_lower,
    ),
    (("ivo",), re.compile(r"\b[Vv]ivo\s+en\s+" + _PROPER), _h_vivo_es),
    (
        ("trabajo",),
        re.compile(r"\btrabajo\s+como\s+([a-zá-ú]+(?:\s+(?:de\s+)?[a-zá-ú]+)*)"),
        _h_trabajo_es,
    ),
    (("llamo",), re.compile(r"\b[Mm]e\s+llamo\s+" + _PROPER), _h_llamo_es),
    (("work",), re.compile(r"\bworks?\b[^.;!?]*?\bat\s+" + _PROPER), _h_works_at),
    (
        ("headquartered",),
        re.compile(r"\bheadquartered\s+in\s+((?:[A-Z][\w&.'-]*)(?:(?:\s*,\s*|\s+)[A-Z][\w&.'-]*)*)"),
        _h_hq,
    ),
    (("founded",), re.compile(r"\bfounded\s+in\s+(\d{4})"), _h_founded),
    (("studied", "graduated"), re.compile(r"\b(?:studied\s+at|graduated\s+from)\s+" + _PROPER), _h_studied),
    (("speak",), re.compile(r"\bspeaks?\s+((?:[A-Z]\w+)(?:(?:\s*,\s*|\s+and\s+)[A-Z]\w+)*)"), _h_speaks),
    (("born",), re.compile(r"\b(?:was\s+)?born\s+in\s+" + _PROPER), _h_born_in),
    (("moved",), re.compile(r"\bmoved\s+to\s+" + _PROPER), _h_moved_to),
    (("married",), re.compile(r"\bmarried\s+to\s+" + _PROPER), _h_married_to),
    (("idea",), re.compile(r"\bthink(?:s)?\s+(?:that\s+)?(.+?)\s+is\s+a\s+bad\s+idea"), _h_bad_idea),
    (("idea",), re.compile(r"\bthink(?:s)?\s+(?:that\s+)?(.+?)\s+is\s+a\s+(?:good|great)\s+idea"), _h_good_idea),
    (
        ("allergic",),
        re.compile(r"\ballergic\s+to\s+((?:\w+)(?:(?:\s*,\s*|\s+and\s+)\w+)*)" + _OBJ_STOP),
        _h_allergic,
    ),
    (("play",), re.compile(r"\bplays?\s+((?:\w+)(?:(?:\s*,\s*|\s+and\s+)\w+)*)" + _OBJ_STOP), _h_plays),
    (("CEO",), re.compile(r"\b(?:is\s+(?:the\s+)?)?CEO\s+of\s+" + _PROPER), _h_ceo_of),
    (("own",), re.compile(r"\bowns?\s+an?\s+([\w\s]+?)" + _OBJ_STOP), _h_owns),
    (
        ("abrir",),
        re.compile(r"\b(?:vamos|vou)\s+abrir[^.;!?]*?\buma?\s+((?:empresa|neg[óo]cio|loja)(?:\s+\w+)?)"),
        _h_abrir_pt,
    ),
    (
        ("abrir",),
        re.compile(r"\buma?\s+((?:empresa|neg[óo]cio|loja)(?:\s+nov[ao])?)\s+que\b[^.;!?]*?\bvamos\s+abrir"),
        _h_abrir_pt,
    ),
]

# any literal of any row; a sentence without a hit cannot match any row
_GATE = re.compile(
    "|".join(re.escape(lit) for lit in dict.fromkeys(lit for lits, _, _ in _PATTERNS for lit in lits))
)


def with_history(history: str | None, text: str | None) -> str:
    """Prepend conversation history to the extraction input — the batch
    analog of the reference's history section in the extractor prompt
    (langchain_fact_extractor.py:129-152: prior turns joined by newlines
    before the content). Document order = conversation order, so the
    first identifier mention (the established subject) still anchors the
    page and facts from any turn attach to it."""
    t = text or ""
    return f"{history}\n{t}" if history else t


def extract_triples_text(text: str | None) -> list[tuple[str, str, str, float]]:
    """Pure scalar extraction: text -> list of (pred, fact_type, fact_name, conf).

    Deterministic: output order is (sentence order, pattern order); exact
    duplicates within one document are removed keeping first occurrence —
    mirroring the reference's per-request dedup-on-attach (H2,
    age_repository.py:689-701).
    """
    if not text:
        return []
    out: list[tuple[str, str, str, float]] = []
    seen: set[tuple[str, str, str]] = set()
    for sentence in _SENT_SPLIT.split(text):
        sentence = sentence.strip()
        if not sentence or not _GATE.search(sentence) or _META.search(sentence):
            continue
        for lits, rx, handler in _PATTERNS:
            if not any(lit in sentence for lit in lits):
                continue
            for m in rx.finditer(sentence):
                for trip in handler(m):
                    if trip is None:
                        continue
                    key = trip[:3]
                    if key not in seen:
                        seen.add(key)
                        out.append(trip)
    return out
