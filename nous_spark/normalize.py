"""Byte-exact normalization rules that define triple identity.

These MUST match the reference exactly — they are the identity functions
for the P/R >= 0.95 gate (SURVEY.md §4 item 5). One implementation, two
surfaces: plain-Python (used inside Arrow-batched pandas UDFs and in
tests) and Spark Column expressions (used in DataFrame stages). Both are
property-tested for agreement in tests/test_normalize.py.

Reference rules (files relative to /root/reference/apps/api/app/features/graph/):
  * Fact.name / Fact.type: strip, reject empty    (models/fact_model.py:30-38)
  * fact_id = f"{type}:{name}"                    (models/fact_model.py:55-57)
  * HAS_FACT.verb: strip then lower               (models/fact_model.py:84-88)
  * Identifier.value: strip, reject empty         (models/identifier_model.py:29-36)
  * Identifier.type in {email, phone, username,
    uuid, social_id}                              (models/identifier_model.py:38-43)
  * Source.content: strip, reject empty           (models/source_model.py:29-36)
  * confidence_score in [0, 1], default 1.0       (models/fact_model.py:71-76)
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column
from pyspark.sql import functions as F

# Namespace for deterministic entity ids: uuid5 over "idtype:idvalue".
# The reference mints uuid4 per new entity (entity_model.py:21) and makes
# creation idempotent by find-or-create on the identifier
# (age_repository.py:101-123); a deterministic uuid5 anchor gives the same
# observable semantics (one stable id per identifier) without coordination,
# which is what makes linking embarrassingly parallel at 10^12 docs.
ENTITY_NS = uuid.UUID("6ba7b811-9dad-11d1-80b4-00c04fd430c8")  # stdlib NAMESPACE_URL

# Namespace-equivalent used for Qdrant-style deterministic point ids
# (qdrant_repository.py:63-78 uses uuid5(NAMESPACE_DNS, key)).
POINT_NS = uuid.NAMESPACE_DNS


# ------------------------------------------------------------- python side
def norm_name(s: str) -> str:
    """Fact.name normalization: strip (fact_model.py:30-33)."""
    return s.strip()


def norm_type(s: str) -> str:
    """Fact.type normalization: strip (fact_model.py:35-38)."""
    return s.strip()


def norm_verb(s: str) -> str:
    """HAS_FACT verb normalization: strip + lower (fact_model.py:84-88)."""
    return s.strip().lower()


def norm_identifier_value(s: str) -> str:
    """Identifier.value normalization: strip (identifier_model.py:29-36)."""
    return s.strip()


def fact_id(fact_type: str, name: str) -> str:
    """Synthetic fact PK: f"{type}:{name}" (fact_model.py:55-57).

    Inputs are assumed already normalized.
    """
    return f"{fact_type}:{name}"


def entity_key(id_type: str, id_value: str) -> str:
    return f"{id_type}:{id_value}"


def entity_id_for(id_type: str, id_value: str) -> str:
    """Deterministic anchor entity id for an identifier."""
    return str(uuid.uuid5(ENTITY_NS, entity_key(id_type, id_value)))


def uuid5_col(namespace: uuid.UUID, name: Column) -> Column:
    """Column twin of ``str(uuid.uuid5(namespace, name))``, JVM-side.

    RFC 4122 §4.3: sha1 over namespace bytes + UTF-8 name, first 16
    bytes as 32 hex chars; the version nibble (char 13) becomes '5' and
    the variant nibble (char 17) keeps its low 2 bits under '10'
    (0-f -> 8,9,a,b repeating). Pinned equal to the stdlib in
    tests/test_properties.py."""
    h = F.sha1(F.concat(F.unhex(F.lit(namespace.hex)), F.encode(name, "UTF-8")))
    variant = F.translate(F.substring(h, 17, 1), "0123456789abcdef", "89ab89ab89ab89ab")
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("5"), F.substring(h, 14, 3)),
        F.concat(variant, F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )


def point_id_for(tenant_id: str, entity_id: str, verb: str, fid: str) -> str:
    """Deterministic vector point id — uuid5 of
    f"{tenant}:{entity}:{verb}:{fact_id}" (qdrant_repository.py:63-78)."""
    return str(uuid.uuid5(POINT_NS, f"{tenant_id}:{entity_id}:{verb}:{fid}"))


def synthetic_sentence(verb: str, fact_type: str, name: str) -> str:
    """Embedding input sentence (qdrant_repository.py:93-107)."""
    return f"The entity {verb} {fact_type}: {name}"


def clamp_confidence(c: float | None) -> float:
    """confidence in [0,1], default 1.0 (fact_model.py:71-76)."""
    if c is None:
        return 1.0
    return max(0.0, min(1.0, float(c)))


# ------------------------------------------------------------- column side
# Spark's trim() strips ONLY ASCII space; the reference strips via Python
# str.strip(), which removes every char where str.isspace() is True —
# including \x1c-\x1f, \x85, NBSP and the Unicode Zs block. Byte-exact
# parity (found by hypothesis in tests/test_properties.py) requires a
# regex with exactly Python's whitespace set, spelled as literal chars so
# Java regex, RE2 and Python re read a class of it identically (the
# HTML -> text whitespace step builds its class from it too).
PY_SPACE_CHARS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)
_PY_SPACE_CLASS = f"[{PY_SPACE_CHARS}]"
_PY_STRIP_RE = f"^{_PY_SPACE_CLASS}+|{_PY_SPACE_CLASS}+$"


def py_strip_col(c: Column) -> Column:
    """Column equivalent of Python str.strip() (byte-exact)."""
    return F.regexp_replace(c, _PY_STRIP_RE, "")


def norm_name_col(c: Column) -> Column:
    return py_strip_col(c)


def norm_type_col(c: Column) -> Column:
    return py_strip_col(c)


def norm_verb_col(c: Column) -> Column:
    return F.lower(py_strip_col(c))


def fact_id_col(fact_type: Column, name: Column) -> Column:
    return F.concat(fact_type, F.lit(":"), name)


def synthetic_sentence_col(verb: Column, fact_type: Column, name: Column) -> Column:
    return F.concat(
        F.lit("The entity "), verb, F.lit(" "), fact_type, F.lit(": "), name
    )
