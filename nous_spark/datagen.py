"""Deterministic synthetic web-page corpus generator.

Produces the Common-Crawl-style ``pages`` table from BASELINE.json's
input_hint — ``(url, warc_ts, html, text, lang)`` — plus the matching
*expected-triples* table derived from the generation parameters (NOT by
running the extractor — that would be circular), so P/R is measured at
scale against ground truth (FIXTURES.md §2: "replicates each golden
sentence across many urls ... so P/R is measured at scale").

Generation is a pure function of (row index, seed): the corpus is
byte-identical across runs and parallelism levels, and is generated
*distributedly* via ``spark.range(n).mapInPandas`` — no driver-side
materialization, so the same code synthesizes 10^3 or 10^12 pages.

Page mix (by index mod 10):
  * 0-3  golden replicas  — one of the 8 reference golden cases, with a
         per-persona identifier;
  * 4-7  combo bios       — parameterized fact sentences drawn from pools
         with a Zipf-skewed city/company choice (creates the hot
         "Location:Paris"-style keys the salted repartition must defeat);
  * 8    alias page       — carries TWO identity lines of one persona
         (email + username) -> exercises alias linking + connected
         components;
  * 9    noise page       — generic text, expected zero triples.
"""

from __future__ import annotations

import datetime as dt
import html as _html
import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from nous_spark.golden import GOLDEN_INLINE as GOLDEN
from nous_spark.schemas import PAGES

EXPECTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("subj", T.StringType(), False),       # "idtype:idvalue"
        T.StructField("pred_alts", T.StringType(), False),  # "|"-separated
        T.StructField("obj_alts", T.StringType(), False),   # "|"-separated "Type:Name"
    ]
)

_CITIES = ["Paris", "London", "Berlin", "Madrid", "Lisbon", "Tokyo", "Oslo", "Dublin", "Prague", "Vienna"]
_CITY_W = [40, 20, 10, 8, 6, 5, 4, 3, 2, 2]  # Zipf-ish: Paris is hot
_COMPANIES = ["Google", "TechCorp", "Initech", "Globex", "Acme", "Hooli", "Vandelay", "Soylent"]
_COMPANY_W = [35, 20, 12, 10, 8, 6, 5, 4]
_PROFESSIONS = ["Software Engineer", "Data Scientist", "Product Manager", "Designer", "Accountant", "Teacher", "Nurse", "Architect"]
_HOBBIES = ["hiking", "photography", "cooking", "chess", "painting", "running", "gardening", "surfing"]
_LANGS = ["English", "Portuguese", "French", "German", "Spanish", "Japanese"]
_INSTITUTIONS = ["Stanford University", "Oxford University", "ETH Zurich", "McGill University"]
_FIRST = ["Alex", "Sam", "Jordan", "Taylor", "Casey", "Riley", "Morgan", "Quinn"]
_LAST = ["Johnson", "Garcia", "Chen", "Smith", "Patel", "Novak", "Silva", "Keller"]

_NOISE = [
    "The weather forecast for tomorrow indicates mild temperatures across the region.",
    "Please find attached the quarterly newsletter for your review.",
    "Traffic was heavier than usual this morning near the bridge.",
    "The museum will be closed for renovations until further notice.",
    "A reminder that the library returns window closes early on holidays.",
    "Several roads remain wet after last night's rain.",
]

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_N_HOT_PERSONAS = 50

# bump when gen_row's output changes for the same (i, seed) — cache keys
# (e.g. bench's materialized pages parquet) embed this
DATAGEN_VERSION = 2


def html_of(text: str, title: str = "page") -> bytes:
    """Wrap text as HTML that every fold of ``HTML_STRIP_STEPS`` (Python,
    Column, DuckDB) turns back into ``text`` exactly."""
    paras = "".join(f"<p>{_html.escape(line)}</p>" for line in text.split("\n"))
    return (
        f"<html><head><title>{_html.escape(title)}</title>"
        f"<style>p{{margin:0}}</style></head><body>{paras}</body></html>"
    ).encode("utf-8")


def _persona(i: int, rng: random.Random) -> tuple[str, str, str]:
    """(persona_key, email, username). 20% of pages map onto 50 hot personas."""
    if i % 5 == 0:
        pid = i % _N_HOT_PERSONAS
    else:
        pid = 1_000_000 + i
    return (
        f"p{pid}",
        f"persona{pid}@example.com",
        f"persona_{pid}",
    )


def gen_row(i: int, seed: int = 42, fill_sentences: int = 0) -> tuple[dict, list[dict]]:
    """Pure function (index, seed) -> (page row, expected-triple rows).

    ``fill_sentences`` appends that many neutral (pattern-free) sentences
    to every page — web pages are mostly boilerplate, and the fill makes
    the extraction cost per page realistic for benchmarking. Fill adds no
    expected triples and matches no lexicon pattern, so P/R is unchanged.
    """
    rng = random.Random((seed << 32) ^ i)
    kind = i % 10
    url = f"https://example.org/p/{i:012d}"
    warc_ts = _EPOCH + dt.timedelta(seconds=i % 86_400_000)
    _, email, username = _persona(i, rng)
    expected: list[dict] = []

    if kind <= 3:  # golden replica — Knuth-hash mix so every persona sees
        # every golden case regardless of stride interactions
        g = GOLDEN[((i * 2654435761) & 0xFFFFFFFF) % len(GOLDEN)]
        # per-persona identifier of the golden case's type
        idv = email if g["id_type"] == "email" else f"{username}"
        subj = f"{g['id_type']}:{idv}"
        text = f"Identity: {g['id_type']}:{idv}\n{g['text']}"
        lang = g["lang"]
        for pred_alts, obj_alts in g["expected"]:
            expected.append(
                {"url": url, "subj": subj, "pred_alts": pred_alts, "obj_alts": obj_alts}
            )
    elif kind <= 7:  # combo bio with skewed pools
        subj = f"email:{email}"
        name = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"
        city = rng.choices(_CITIES, weights=_CITY_W, k=1)[0]
        company = rng.choices(_COMPANIES, weights=_COMPANY_W, k=1)[0]
        prof = rng.choice(_PROFESSIONS)
        inst = rng.choice(_INSTITUTIONS)
        l1, l2 = rng.sample(_LANGS, 2)
        h1, h2 = rng.sample(_HOBBIES, 2)
        text = (
            f"Identity: email:{email}\n"
            f"{name} lives in {city} and works as a {prof} at {company}. "
            f"{name.split()[0]} studied at {inst}. "
            f"{name.split()[0]} speaks {l1} and {l2}. "
            f"{name.split()[0]} enjoys {h1} and {h2}."
        )
        lang = "en"
        for pred, obj in [
            ("lives_in", f"Location:{city}"),
            ("works_as", f"Profession:{prof}"),
            ("works_at", f"Company:{company}"),
            ("studied_at", f"Institution:{inst}"),
            ("speaks", f"Language:{l1}"),
            ("speaks", f"Language:{l2}"),
            ("enjoys", f"Hobby:{h1[:1].upper()}{h1[1:]}"),
            ("enjoys", f"Hobby:{h2[:1].upper()}{h2[1:]}"),
        ]:
            expected.append({"url": url, "subj": subj, "pred_alts": pred, "obj_alts": obj})
    elif kind == 8:  # alias page: email + username of the same persona
        subj = f"email:{email}"
        city = rng.choices(_CITIES, weights=_CITY_W, k=1)[0]
        text = (
            f"Identity: email:{email}\n"
            f"Identity: username:{username}\n"
            f"Their profile says they live in {city}."
        )
        lang = "en"
        expected.append(
            {"url": url, "subj": subj, "pred_alts": "lives_in", "obj_alts": f"Location:{city}"}
        )
    else:  # noise
        subj = f"email:{email}"
        text = f"Identity: email:{email}\n{rng.choice(_NOISE)} {rng.choice(_NOISE)}"
        lang = "en"

    if fill_sentences > 0:
        fill = " ".join(rng.choice(_NOISE) for _ in range(fill_sentences))
        text = f"{text}\n{fill}"

    page = {
        "url": url,
        "warc_ts": warc_ts,
        "html": html_of(text, title=f"doc {i}"),
        "text": text,
        "lang": lang,
    }
    return page, expected


def generate_pages(
    spark: SparkSession, n_pages: int, seed: int = 42, fill_sentences: int = 0
) -> DataFrame:
    """Distributed, deterministic pages table."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [gen_row(int(i), seed, fill_sentences)[0] for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES.fields])

    parallelism = spark.sparkContext.defaultParallelism
    return spark.range(n_pages, numPartitions=max(parallelism, 1)).mapInPandas(gen, PAGES)


def generate_expected(spark: SparkSession, n_pages: int, seed: int = 42) -> DataFrame:
    """Ground-truth triples for the same corpus (from generation params)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in EXPECTED_SCHEMA.fields]
        for pdf in batches:
            rows: list[dict] = []
            for i in pdf["id"]:
                rows.extend(gen_row(int(i), seed)[1])
            yield pd.DataFrame(rows, columns=cols)

    parallelism = spark.sparkContext.defaultParallelism
    return spark.range(n_pages, numPartitions=max(parallelism, 1)).mapInPandas(
        gen, EXPECTED_SCHEMA
    )
