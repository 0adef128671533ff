"""Deterministic synthetic web-page + catalog generation (FIXTURES.md).

No external data: everything derives from seeded word pools. Content is a
pure function of (seed, row index), so the same table materializes
identically whether built in a driver loop (tests) or distributed over
``spark.range(n).mapInPandas`` (bench scale) — partitioning cannot change
the data. The page table matches BASELINE.json's input_hint schema:
(url:string, warc_ts:timestamp, html:binary, text:string, lang:string).

Skew: entity 0 ("Alan Aachen") is Zipf-head — subject of ~20% of all
facts (FIXTURES.md §7) so the canonicalization join/dedup stage has an
observable hot key.
"""

from __future__ import annotations

import datetime as _dt
import random
from typing import Dict, Iterator, List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SEED = 42
ZIPF_HEAD_P = 0.2

_FIRST = [
    "Alan", "Bela", "Carla", "Dmitri", "Elena", "Farid", "Greta", "Hugo",
    "Iris", "Jonas", "Katya", "Liam", "Mara", "Nils", "Odile", "Pavel",
    "Quinn", "Rosa", "Sven", "Tara",
]
_LAST = [
    "Aachen", "Brandt", "Cords", "Dvorak", "Eriksen", "Fabre", "Gruber",
    "Hoffmann", "Ivanov", "Jensen",
]
_CITIES = [
    "Zurich", "Lausanne", "Bern", "Geneva", "Basel", "Lugano", "Chur",
    "Sion", "Thun", "Uster", "Aarau", "Baden", "Vevey", "Nyon", "Olten",
    "Arosa", "Davos", "Zug", "Biel", "Fribourg",
]
_ORGS = [
    "Nordwind Labs", "Helvetia Press", "Aare Institute", "Jura Works",
    "Rhone Capital", "Ticino Mills", "Alpine Logic", "Glarus Forge",
    "Limmat Systems", "Saane Studio",
]
# names with '.' and multiple tokens exercise the sentence-split edge cases
_DOTTED = ["J. R. Tolkien", "E. T. A. Hoffmann", "L. M. Montgomery"]

RELATIONS = [
    "birthplace", "residence", "employer", "founded by", "capital of",
    "citizen of", "member of", "located in", "educated at", "spouse",
    "child of", "sibling of", "works at", "owner of", "author of",
    "director of", "part of", "named after", "successor of", "borders",
    "headquartered in", "instance of", "field of work", "award received",
]

_NOISE = [
    "The weather was mild that year.",
    "Nothing else of note happened.",
    "The report was published in spring.",
    "Several details remain unclear.",
    "The archive preserves the records.",
]

# templates put subject, relation words, and object verbatim in the text so
# the deterministic scorer (which prefers in-text tokens) can recover facts
_TEMPLATES = [
    "{s} {r} {o}.",
    "It is recorded that {s} {r} {o}.",
    "{s} {r} {o} according to the registry.",
]


def make_entities() -> List[Dict[str, str]]:
    """Entity catalog rows: {id, name, provenance}. Deterministic."""
    names: List[str] = []
    for f in _FIRST:
        for l in _LAST[:8]:
            names.append(f"{f} {l}")
    names += _CITIES + _ORGS + _DOTTED
    rows = []
    for i, n in enumerate(names):
        rows.append(
            {
                "id": f"Q{i + 1}",
                "name": n,
                "provenance": "en_label" if i % 17 == 0 else "en_title",
            }
        )
    # deliberate duplicate surface forms (exercise catalog dedup J6,
    # reference utils.py:39-60)
    rows.append({"id": f"Q{len(rows) + 1}", "name": _CITIES[0], "provenance": "en_title"})
    rows.append({"id": f"Q{len(rows) + 1}", "name": _ORGS[0], "provenance": "en_label"})
    return rows


def make_relations() -> List[Dict[str, str]]:
    return [
        {"id": f"P{i + 1}", "name": n, "provenance": "en_title"}
        for i, n in enumerate(RELATIONS)
    ]


def unique_entity_names(entities: List[Dict[str, str]]) -> List[str]:
    """Names whose surface form maps to exactly one id (J6 semantics)."""
    from collections import Counter

    c = Counter(e["name"] for e in entities)
    return sorted(n for n, k in c.items() if k == 1)


def make_page(i: int, entities: List[str], relations: List[str], seed: int = SEED) -> dict:
    """Pure function (seed, i) → page row dict. Embeds 0–3 gold facts."""
    rng = random.Random((seed << 32) ^ i)
    n_facts = rng.choice([0, 1, 1, 2, 2, 3])
    facts: List[Tuple[str, str, str]] = []
    sents: List[str] = []
    for _ in range(n_facts):
        s = entities[0] if rng.random() < ZIPF_HEAD_P else rng.choice(entities)
        r = rng.choice(relations)
        o = rng.choice(entities)
        while o == s:
            o = rng.choice(entities)
        facts.append((s, r, o))
        sents.append(rng.choice(_TEMPLATES).format(s=s, r=r, o=o))
    n_noise = rng.choice([0, 1, 1, 2])
    for _ in range(n_noise):
        sents.insert(rng.randrange(len(sents) + 1), rng.choice(_NOISE))
    if not sents:
        sents = [rng.choice(_NOISE)]
    # 1–2 paragraphs; occasional double space exercises the \s{2,} collapse
    k = rng.randrange(len(sents) + 1)
    paras = [" ".join(sents[:k]), " ".join(sents[k:])]
    paras = [p for p in paras if p]
    if rng.random() < 0.15 and paras:
        paras[0] = paras[0].replace(" ", "  ", 1)
    text = "\n".join(paras)
    lang = "en" if rng.random() < 0.9 else rng.choice(["de", "fr"])
    esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    html = "<html><body>" + "".join(f"<p>{p}</p>" for p in esc.split("\n")) + "</body></html>"
    return {
        "url": f"https://example.org/page/{seed}/{i}",
        "warc_ts": _dt.datetime(2024, 1, 1) + _dt.timedelta(seconds=i * 37 % 2_592_000),
        "html": html.encode("utf-8"),
        "text": text,
        "lang": lang,
        "gold": [{"s": s, "r": r, "o": o} for s, r, o in facts],
    }


PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField(
            "gold",
            ArrayType(
                StructType(
                    [
                        StructField("s", StringType()),
                        StructField("r", StringType()),
                        StructField("o", StringType()),
                    ]
                )
            ),
        ),
    ]
)

CATALOG_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("name", StringType()),
        StructField("provenance", StringType()),
    ]
)


def catalogs_df(spark: SparkSession) -> Tuple[DataFrame, DataFrame]:
    ents = spark.createDataFrame(make_entities(), CATALOG_SCHEMA)
    rels = spark.createDataFrame(make_relations(), CATALOG_SCHEMA)
    return ents, rels


def pages_df(spark: SparkSession, n: int) -> DataFrame:
    """Distributed deterministic page table: content is f(SEED, id), built
    via mapInPandas over spark.range so generation itself scales out and is
    partition-invariant."""
    ents = unique_entity_names(make_entities())
    rels = sorted(RELATIONS)

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [make_page(int(i), ents, rels, SEED) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, PAGES_SCHEMA)


def pages_local(n: int) -> List[dict]:
    """Driver-side twin of pages_df for oracle/parity tests."""
    ents = unique_entity_names(make_entities())
    rels = sorted(RELATIONS)
    return [make_page(i, ents, rels, SEED) for i in range(n)]
