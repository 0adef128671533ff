"""Output checks, run outside the timed window.

* :func:`twin_graph` rebuilds the knowledge graph in this process, without
  Spark: ``split_sentences`` -> ``generate_for_text`` ->
  ``parse_linearization`` -> dict canonicalize -> group, the same steps
  ``extract_pipeline`` + ``materialize_graph`` run distributed.
* :func:`graph_problems` compares a graph with its twin and, for the
  recorded seeds, with the golden digest in ``golden.json``. The twin
  shares the decode core with the program, so a decode edit that changes
  beams moves both; the golden digests catch what the twin cannot.

Run as a script it computes the twin of one input set, in a process of
its own so that the program's peak RSS never includes it; ``--record``
stores the twin's digest as the golden one for a seed:

    python3 perfbench/checks.py --inputs .perfbench_work/cache/p200-e20000-s1-<digest> --record 1
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
from collections import Counter
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDEN = os.path.join(HERE, "golden.json")

GraphRow = Tuple[str, str, str, str, str, str, int, str]
GRAPH_COLUMNS = (
    "subj", "pred", "obj", "subj_name", "pred_name", "obj_name", "n_sources", "first_url",
)


def digest(rows: Iterable[Sequence]) -> str:
    """Order-free sha256 of a row set."""
    h = hashlib.sha256()
    for line in sorted(json.dumps(list(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def decode_stack(ents: List[str], rels: List[str]):
    """The worker's decode stack, built by the program's own factory from
    the payload ``GenieExtractor`` broadcasts."""
    from genie_spark.pipeline import default_stack_factory

    return default_stack_factory(
        {"ent_names": sorted(set(ents)), "rel_names": sorted(set(rels))}
    )


def twin_mentions(pages: List[dict], stack, lang: str = "en") -> List[Tuple[str, str, str, str]]:
    """(url, s, r, o) for every triple decoded from the pages' sentences."""
    from genie_spark.decode import generate_for_text, top_valid_prediction
    from genie_spark.extract import split_sentences
    from genie_spark.triples import parse_linearization

    tok, codes, ent_t, rel_t, scorer = stack
    out = []
    for p in pages:
        if p["lang"] != lang:
            continue
        for sent in split_sentences(p["text"]):
            beams = generate_for_text(sent, scorer, tok, codes, ent_t, rel_t, num_beams=2, max_length=96)
            for s, r, o in parse_linearization(top_valid_prediction(beams) or ""):
                out.append((p["url"], s, r, o))
    return out


def twin_graph(
    mentions: Iterable[Tuple[str, str, str, str]],
    ent_catalog: Sequence[Tuple[str, str]],
    rel_catalog: Sequence[Tuple[str, str]],
) -> List[GraphRow]:
    """Dict twin of ``materialize_graph``: link names through catalogs
    whose ambiguous names are dropped, then group by id triple."""

    def ids(catalog):
        n = Counter(name for _, name in catalog)
        return {name: i for i, name in catalog if n[name] == 1}

    ent, rel = ids(ent_catalog), ids(rel_catalog)
    groups: Dict[tuple, list] = {}
    for url, s, r, o in mentions:
        if s in ent and r in rel and o in ent:
            g = groups.setdefault((ent[s], rel[r], ent[o]), [s, r, o, set()])
            g[0], g[1], g[2] = min(g[0], s), min(g[1], r), min(g[2], o)
            g[3].add(url)
    return [(*k, s, r, o, len(urls), min(urls)) for k, (s, r, o, urls) in groups.items()]


def load_golden() -> dict:
    if not os.path.exists(GOLDEN):
        return {}
    with open(GOLDEN) as f:
        return json.load(f)


def graph_problems(rows: List[GraphRow], twin: List[GraphRow], golden: Optional[str]) -> List[str]:
    """Everything wrong with a graph, as messages; empty when it is right."""
    out = []
    got = digest(rows)
    if len(rows) != len(set(rows)):
        out.append("graph has duplicate rows")
    if got != digest(twin):
        missing = len(set(twin) - set(rows))
        extra = len(set(rows) - set(twin))
        out.append(f"graph differs from its twin: {missing} rows missing, {extra} extra")
    if golden is not None and got != golden:
        out.append(f"graph digest {got[:12]} is not the golden {golden[:12]}")
    if not rows:
        out.append("graph is empty")
    return out


def read_graph(path: str) -> List[GraphRow]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=list(GRAPH_COLUMNS))
    cols = [t.column(c).to_pylist() for c in GRAPH_COLUMNS]
    return [tuple(r) for r in zip(*cols)]


def _paths(inputs_dir: str) -> Dict[str, str]:
    return {n: os.path.join(inputs_dir, f"{n}.parquet") for n in ("pages", "entities", "relations")}


def expected(inputs_dir: str, decoded: bool) -> dict:
    """The twin of one input set (see :mod:`inputs`): the mentions that
    reach canonicalization and the graph they make. ``decoded`` takes the
    mentions from decoding the pages' sentences, else from their gold
    triples."""
    import pyarrow.parquet as pq

    paths = _paths(inputs_dir)
    pages = pq.read_table(paths["pages"], columns=["url", "text", "lang", "gold"]).to_pylist()
    cat = {
        n: [(r["id"], r["name"]) for r in pq.read_table(paths[n]).to_pylist()]
        for n in ("entities", "relations")
    }
    out = {}
    if decoded:
        stack = decode_stack([n for _, n in cat["entities"]], [n for _, n in cat["relations"]])
        mentions = twin_mentions(pages, stack)
        out["micro_f1"] = micro_f1(pages, mentions)
    else:
        mentions = [(p["url"], g["s"], g["r"], g["o"]) for p in pages for g in p["gold"]]
    out.update(mentions=len(mentions), graph=twin_graph(mentions, cat["entities"], cat["relations"]))
    return out


def micro_f1(pages: List[dict], mentions: Iterable[Tuple[str, str, str, str]], lang: str = "en") -> float:
    """Micro F1 of each page's decoded triple set against its gold set,
    over the pages in ``lang`` (the semantics of ``evaluation.evaluate_micro``)."""
    pred: Dict[str, set] = {}
    for url, s, r, o in mentions:
        pred.setdefault(url, set()).add((s, r, o))
    correct = n_pred = n_gold = 0
    for p in pages:
        if p["lang"] != lang:
            continue
        gold = {(g["s"], g["r"], g["o"]) for g in p["gold"]}
        got = pred.get(p["url"], set())
        correct, n_pred, n_gold = correct + len(got & gold), n_pred + len(got), n_gold + len(gold)
    precision = correct / n_pred if n_pred else 0.0
    recall = correct / n_gold if n_gold else 0.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


def main() -> None:
    sys.path.insert(0, ROOT)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--inputs", required=True, metavar="DIR", help="an input set's directory")
    ap.add_argument("--gold", action="store_true", help="mentions from the gold triples, not decoded")
    ap.add_argument("--out", metavar="FILE", help="write the twin's mentions count and graph here")
    ap.add_argument("--record", type=int, metavar="SEED", help="store the graph's digest as the golden one")
    a = ap.parse_args()
    got = expected(a.inputs, decoded=not a.gold)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(got, f)
    if a.record is not None:
        golden = load_golden()
        key = os.path.basename(os.path.normpath(a.inputs)).rsplit("-", 2)[0]
        golden.setdefault(key, {})[str(a.record)] = digest(got["graph"])
        with open(GOLDEN, "w") as f:
            json.dump(golden, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
