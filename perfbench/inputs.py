"""Seeded benchmark inputs: pages plus entity and relation catalogs.

Everything is a pure function of ``(seed, shape)``. A second, small page
table (``warm``: the next ``WARM_PAGES`` page indices, so no page is in
both) feeds the set-up's warm pass. Pages come from
``genie_spark.synth.make_page`` (the repo's fixture generator), driven by a
seeded catalog of multi-word entity names instead of the 191-name fixture
catalog, so the decode trie has a realistic fan-out. Tables are written
once per ``(seed, shape, generator source)`` as parquet under the cache
directory, in a process of their own, before any Spark work starts; the
program under test only ever reads these tables.

Run as a script it generates (or finds) one input set and prints its
paths and measured properties as JSON:

    python3 perfbench/inputs.py --cache DIR --seed 1 --pages 400 --entities 20000
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import math
import os
import random
import sys
from dataclasses import asdict, dataclass
from typing import Dict, List

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

# Word pools are made of these syllables: letters only, so names never
# contain '<' (the tag grammar) or '.' (the sentence splitter).
_ONSETS = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z"]
_VOWELS = ["a", "e", "i", "o", "u"]
MIDDLE_SHARE = 0.2
WARM_PAGES = 64


@dataclass(frozen=True)
class Shape:
    """The input sizes a workload sets. ``entities`` sets the trie
    fan-out (the first-word pool grows as 2*sqrt(entities)), ``pages``
    the corpus size. Sentences per page, the Zipf head share and the lang
    mix are fixed by ``synth.make_page``; :func:`describe` measures them."""

    pages: int
    entities: int

    def key(self) -> str:
        return f"p{self.pages}-e{self.entities}"


def _word_pool(rng: random.Random, n: int, taken: set) -> List[str]:
    out: List[str] = []
    while len(out) < n:
        syl = rng.randint(2, 4)
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(syl))
        w = w.capitalize()
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def entity_names(seed: int, shape: Shape) -> List[str]:
    """``shape.entities`` distinct seeded names of two or three words."""
    rng = random.Random(f"entities/{seed}")
    taken: set = set()
    pool = math.ceil(2 * math.sqrt(shape.entities))
    first = _word_pool(rng, pool, taken)
    last = _word_pool(rng, pool, taken)
    middle = _word_pool(rng, max(8, pool // 4), taken)
    names: List[str] = []
    seen: set = set()
    while len(names) < shape.entities:
        parts = [rng.choice(first)]
        if rng.random() < MIDDLE_SHARE:
            parts.append(rng.choice(middle))
        parts.append(rng.choice(last))
        name = " ".join(parts)
        if name not in seen:
            seen.add(name)
            names.append(name)
    return names


_TRIPLE = pa.struct([("s", pa.string()), ("r", pa.string()), ("o", pa.string())])
_PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("gold", pa.list_(_TRIPLE)),
    ]
)


def make_tables(seed: int, shape: Shape) -> Dict[str, pa.Table]:
    from genie_spark import synth

    ents = entity_names(seed, shape)
    rels = sorted(synth.RELATIONS)
    rows = [synth.make_page(i, ents, rels, seed) for i in range(shape.pages + WARM_PAGES)]

    def catalog(prefix, names):
        return pa.table(
            {
                "id": [f"{prefix}{i + 1}" for i in range(len(names))],
                "name": names,
                "provenance": ["en_title"] * len(names),
            }
        )

    return {
        "pages": pa.Table.from_pylist(rows[: shape.pages], schema=_PAGES_SCHEMA),
        "warm": pa.Table.from_pylist(rows[shape.pages :], schema=_PAGES_SCHEMA),
        "entities": catalog("Q", ents),
        "relations": catalog("P", rels),
    }


def describe(tables: Dict[str, pa.Table], shape: Shape) -> dict:
    """Measured input properties recorded with every result."""
    from genie_spark.extract import split_sentences

    pages = tables["pages"].to_pylist()
    ents = tables["entities"].column("name").to_pylist()
    facts = [g for p in pages for g in p["gold"]]
    en = [p for p in pages if p["lang"] == "en"]
    n_sent = sum(len(split_sentences(p["text"])) for p in en)
    langs = sorted({p["lang"] for p in pages})
    return {
        **asdict(shape),
        "relations": tables["relations"].num_rows,
        "trie_root_fanout": len({n.split(" ")[0] for n in ents}),
        "facts": len(facts),
        "zipf_head_share": round(
            sum(1 for g in facts if g["s"] == ents[0]) / max(len(facts), 1), 4
        ),
        "lang_mix": {
            lang: round(sum(p["lang"] == lang for p in pages) / len(pages), 4)
            for lang in langs
        },
        "en_sentences": n_sent,
        "sentences_per_en_page": round(n_sent / max(len(en), 1), 4),
    }


def source_digest() -> str:
    """Digest of the code that decides the tables' content: the program's
    page generator and this module. Part of the cache key, so a change to
    either never reuses stale tables."""
    from genie_spark import synth

    h = hashlib.sha256()
    h.update(inspect.getsource(synth).encode())
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:12]


def load(cache_dir: str, seed: int, shape: Shape) -> dict:
    """Parquet paths and properties of the tables for ``(seed, shape)``,
    generating them on first use. Writes go to a temp name and are renamed
    into place, so an interrupted generation is never mistaken for a
    cached one."""
    d = os.path.join(cache_dir, f"{shape.key()}-s{seed}-{source_digest()}")
    paths = {n: os.path.join(d, f"{n}.parquet") for n in ("pages", "warm", "entities", "relations")}
    meta = os.path.join(d, "inputs.json")
    if not os.path.exists(meta):
        os.makedirs(d, exist_ok=True)
        tables = make_tables(seed, shape)
        for name, t in tables.items():
            pq.write_table(t, paths[name] + ".tmp")
            os.replace(paths[name] + ".tmp", paths[name])
        with open(meta + ".tmp", "w") as f:
            json.dump(describe(tables, shape), f, indent=1, sort_keys=True)
        os.replace(meta + ".tmp", meta)
    with open(meta) as f:
        return {"paths": paths, "properties": json.load(f)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cache", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pages", type=int, required=True)
    ap.add_argument("--entities", type=int, required=True)
    a = ap.parse_args()
    print(json.dumps(load(a.cache, a.seed, Shape(a.pages, a.entities))))


if __name__ == "__main__":
    main()
