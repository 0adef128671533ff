"""Pure-Python twin oracle for the flagship constrained-generation query.

The flagship pipeline (``graph_extract_triples``) is not SQL-expressible,
so its DuckDB oracle cannot be written by hand. It IS, however, fully
deterministic: this module re-runs the whole pipeline single-process on
the driver — duckdb parquet scan → page projection → lang filter →
:func:`extract.split_sentences` → :func:`decode.generate_for_text` →
:func:`triples.parse_linearization` — with ZERO Spark involvement, and
materializes the expected rows as a ``VALUES`` literal the driver's
DuckDB connection can execute. The driver's hash compare then pins the
distributed mapInPandas pipeline against this independent single-process
run (the same twin the pytest parity suite uses, test_spark_pipeline.py
::test_pipeline_matches_driver_oracle, but surfaced through the hard
CORRECTNESS gate instead of only pytest).

Independence note: the twin shares the decode *functions* with the Spark
UDF by design (they are the single-process core); what the oracle
verifies is everything Spark adds around them — Arrow batching,
partitioning/replication, the Column-expression sentence split and triple
parse (JVM code, no Python), broadcast handling, and NULL semantics of
explode_outer — plus that the decode output is bit-stable across the two
execution environments.
"""

from __future__ import annotations

import os
from typing import Iterable, List, Optional, Tuple

Row = Tuple[str, int, Optional[str], Optional[str], Optional[str]]


def corpus_catalog(texts: Iterable[str]) -> Tuple[List[str], List[str]]:
    """Pure-Python twin of __spark_entry__._corpus_catalogs: words split
    on single spaces, length >= 4 are entity names, length 3 relations,
    and no word containing '<' is a name."""
    vocab = sorted(
        {w for t in texts for w in t.split(" ") if len(w) >= 3 and "<" not in w}
    )
    return [w for w in vocab if len(w) >= 4], [w for w in vocab if len(w) == 3]


def _twin_stack(sf_dir: str):
    """Shared single-process context: docs + the decode stack
    pipeline.default_stack_factory builds over the corpus-derived catalog
    (twin of __spark_entry__._corpus_catalogs feeding
    pipeline._worker_setup)."""
    import duckdb

    from .pipeline import default_stack_factory

    docs = duckdb.sql(
        "SELECT doc_id, text, lang, source FROM read_parquet('"
        + os.path.join(sf_dir, "documents.parquet")
        + "') ORDER BY doc_id"
    ).fetchall()
    ents, rels = corpus_catalog(t for (_, t, _, _) in docs)
    stack = default_stack_factory({"ent_names": ents, "rel_names": rels})
    return (docs, *stack)


# oracle_sql() may be invoked repeatedly (per-query drivers); the twin
# generation pass is deterministic per corpus dir, so cache it
# (key: (sf_dir, constrained))
_PRED_CACHE: dict = {}


def _twin_predictions(sf_dir: str, constrained: bool = True):
    """(url, sent_idx, sentence, prediction) per en sentence — the shared
    generation pass of the twin oracles. ``constrained=False`` runs the
    trie-less free-generation twin (decode.beam_search with tries=None)."""
    key = (sf_dir, constrained)
    hit = _PRED_CACHE.get(key)
    if hit is not None:
        return hit
    from .decode import free_vocab_ids, generate_for_text, top_valid_prediction
    from .extract import split_sentences

    docs, tok, codes, ent_t, rel_t, scorer = _twin_stack(sf_dir)
    fv = None
    if not constrained:
        ent_t = rel_t = None
        fv = free_vocab_ids(tok)
    out = []
    for doc_id, text, lang, source in docs:
        if lang != "en":
            continue
        url = f"https://{source}/doc/{doc_id}"
        for idx, sent in enumerate(split_sentences(text)):
            beams = generate_for_text(
                sent, scorer, tok, codes, ent_t, rel_t, num_beams=2,
                max_length=96, free_vocab=fv,
            )
            out.append((url, idx, sent, top_valid_prediction(beams)))
    # one corpus at a time (these lists are sizable), but both decode
    # modes of that corpus stay cached — oracle_sql() asks for each
    for k in [k for k in _PRED_CACHE if k[0] != sf_dir]:
        del _PRED_CACHE[k]
    _PRED_CACHE[key] = (out, (tok, codes, ent_t, rel_t, scorer))
    return _PRED_CACHE[key]


def flagship_expected_rows(sf_dir: str) -> List[Row]:
    """Single-process re-run of graph_extract_triples over
    ``{sf_dir}/documents.parquet``: (url, sent_idx, s, r, o) with one
    NULL-triple row per sentence that produced no triples (explode_outer
    semantics)."""
    from .triples import parse_linearization

    preds, _ = _twin_predictions(sf_dir)
    out: List[Row] = []
    for url, idx, _sent, pred in preds:
        triples = parse_linearization(pred or "")
        if triples:
            out.extend((url, idx, s, r, o) for (s, r, o) in triples)
        else:
            out.append((url, idx, None, None, None))
    return out


def confidence_expected_rows(sf_dir: str) -> List[tuple]:
    """Twin of extraction_confidence: per en sentence with a non-NULL
    prediction, (url, sent_idx, n_tokens, nll round6, loss round6) from
    forced scoring of the prediction (decode.sequence_nll)."""
    from .decode import sequence_nll

    preds, (tok, codes, ent_t, rel_t, scorer) = _twin_predictions(sf_dir)
    out = []
    for url, idx, sent, pred in preds:
        if pred is None:
            continue
        ids = tok.encode_pieces(pred) + [tok.eos_token_id]
        nll, _smooth, n, loss = sequence_nll(
            sent, ids, scorer, tok, codes, ent_t, rel_t
        )
        out.append((url, idx, n, round(nll, 6), round(loss, 6)))
    return out


def confidence_oracle_sql(sf_dir: str) -> str:
    """extraction_confidence rows as a VALUES literal."""
    rows = confidence_expected_rows(sf_dir)
    if not rows:
        return (
            "SELECT CAST(NULL AS VARCHAR) AS url, CAST(NULL AS BIGINT) AS sent_idx,"
            " CAST(NULL AS BIGINT) AS n_tokens, CAST(NULL AS DOUBLE) AS nll,"
            " CAST(NULL AS DOUBLE) AS loss WHERE FALSE"
        )
    values = ",\n".join(
        f"({_sql_str(u)}, {i}, {n}, {nll!r}, {loss!r})"
        for (u, i, n, nll, loss) in rows
    )
    return (
        "SELECT url, sent_idx::BIGINT AS sent_idx, n_tokens::BIGINT AS n_tokens,"
        " nll::DOUBLE AS nll, loss::DOUBLE AS loss FROM (VALUES\n"
        + values
        + "\n) AS t(url, sent_idx, n_tokens, nll, loss)"
    )


def val_nll_oracle_sql(sf_dir: str) -> str:
    """A9 aggregation oracle: epoch-level mean NLL / loss per token over
    the extraction_confidence rows, with the distributed sum carried in
    exact integer micro-units (round6 × 1e6) so Spark's reduction order
    cannot perturb the hash."""
    inner = confidence_oracle_sql(sf_dir)
    return f"""
WITH per AS ({inner})
SELECT count(*)::BIGINT AS n_scored,
       sum(n_tokens)::BIGINT AS n_tokens,
       round((sum(CAST(round(nll * 1000000, 0) AS BIGINT)) / 1000000.0) / sum(n_tokens), 6) AS nll_per_token,
       round((sum(CAST(round(loss * 1000000, 0) AS BIGINT)) / 1000000.0) / count(*), 6) AS loss_per_seq
FROM per
"""


def free_expected_rows(sf_dir: str) -> List[tuple]:
    """Twin of free_extract_triples: per en sentence,
    (url, sent_idx, prediction, n_triples) from the UNconstrained decode
    (tries=None — the reference's free_generation=true baseline)."""
    from .triples import parse_linearization

    preds, _ = _twin_predictions(sf_dir, constrained=False)
    return [
        (url, idx, pred, len(parse_linearization(pred or "")))
        for url, idx, _sent, pred in preds
    ]


def free_oracle_sql(sf_dir: str) -> str:
    """free_extract_triples rows as a VALUES literal."""
    rows = free_expected_rows(sf_dir)
    if not rows:
        return (
            "SELECT CAST(NULL AS VARCHAR) AS url, CAST(NULL AS BIGINT) AS sent_idx,"
            " CAST(NULL AS VARCHAR) AS prediction, CAST(NULL AS BIGINT) AS n_triples"
            " WHERE FALSE"
        )
    values = ",\n".join(
        f"({_sql_str(u)}, {i}, {_sql_str(p)}, {n})" for (u, i, p, n) in rows
    )
    return (
        "SELECT url, sent_idx::BIGINT AS sent_idx,"
        " prediction::VARCHAR AS prediction, n_triples::BIGINT AS n_triples"
        " FROM (VALUES\n" + values + "\n) AS t(url, sent_idx, prediction, n_triples)"
    )


def graph_oracle_sql(sf_dir: str) -> str:
    """Twin of graph_materialize: the downstream dedup/canonicalize/
    provenance stage is pure relational algebra over the flagship
    extraction, so its oracle is plain SQL wrapped around the flagship
    VALUES literal. The corpus-derived catalog maps every decoded surface
    to a unique id (name↔id bijective), so grouping by (s, r, o) names
    equals grouping by the id triple, and min(name) per group is the name
    itself."""
    inner = flagship_oracle_sql(sf_dir)
    return f"""
WITH flag AS ({inner})
SELECT s AS subj_name, r AS pred_name, o AS obj_name,
       count(DISTINCT url)::BIGINT AS n_sources,
       min(url) AS first_url
FROM flag WHERE s IS NOT NULL GROUP BY 1, 2, 3
"""


def _sql_str(v: Optional[str]) -> str:
    if v is None:
        return "CAST(NULL AS VARCHAR)"
    return "'" + v.replace("'", "''") + "'"


def flagship_oracle_sql(sf_dir: str) -> str:
    """The expected rows as a self-contained ANSI-SQL VALUES literal
    (column names/types matching the Spark query: url, sent_idx bigint,
    s, r, o)."""
    rows = flagship_expected_rows(sf_dir)
    if not rows:
        return (
            "SELECT CAST(NULL AS VARCHAR) AS url, CAST(NULL AS BIGINT) AS sent_idx,"
            " CAST(NULL AS VARCHAR) AS s, CAST(NULL AS VARCHAR) AS r,"
            " CAST(NULL AS VARCHAR) AS o WHERE FALSE"
        )
    values = ",\n".join(
        f"({_sql_str(u)}, {i}, {_sql_str(s)}, {_sql_str(r)}, {_sql_str(o)})"
        for (u, i, s, r, o) in rows
    )
    return (
        "SELECT url, sent_idx::BIGINT AS sent_idx, s::VARCHAR AS s,"
        " r::VARCHAR AS r, o::VARCHAR AS o FROM (VALUES\n"
        + values
        + "\n) AS t(url, sent_idx, s, r, o)"
    )
