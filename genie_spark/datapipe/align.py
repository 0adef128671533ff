"""Text ↔ KB alignment: distant supervision and entity co-occurrence.

The training data for closed-IE extractors (REBEL's construction
pipeline, which GenIE trains on — reference
genie/datamodule/datasets/rebel.py consumes its output) is built by
*distant supervision*: align an existing KB's triples to raw text, and
every sentence/document that mentions both endpoint entities of a
triple becomes a (noisy) positive training example. The companion
signal is *entity co-occurrence* (pointwise mutual information), the
classic distant-supervision prior for proposing NEW candidate relations
between entity pairs that co-occur more than chance.

Scale shape (the part that matters at 100 TB):

* The corpus is tokenized ONCE into a distinct ``(doc_id, token)``
  mention table — one shuffle, then every downstream consumer (KB
  alignment, co-occurrence, marginals) reuses it.
* KB alignment is two inverted-index joins — mentions ⋈ KB on the
  subject name (KB broadcast when dimension-sized; flips to a shuffle
  hash join automatically for a Wikidata-scale KB), then a second
  mention join keyed on ``(doc_id, object name)``. The corpus is never
  cross-joined against the KB and document text is never re-scanned.
* Co-occurrence pairs are generated per-document from the distinct
  mention set, so the fan-out per document is bounded by its distinct
  *catalog* mentions (vocabulary-sized), not its length; real corpora
  bound it further by linking against a finite entity catalog first.

Everything is exact integer arithmetic (counts + floor-div ppm) so the
DuckDB oracle reproduces values bit-for-bit; no floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .hashes import h60, h60_sql

# Tokenization matches DuckDB ``string_split(lower(text), ' ')``:
# single-space split, empties dropped. The corpus fixture is single-
# space separated; production corpora run through textstats' tokenizer
# first — this is the alignment-side contract, not a general tokenizer.
_SPLIT = " "


def doc_tokens(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, tok) mention table — the one corpus shuffle
    every alignment consumer shares. No spread repartition here:
    consumers reference this subtree from several join sides, so an
    added exchange re-executes per reference (kg_cooccurrence measured
    0.9s -> 2.2s with it)."""
    return (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), _SPLIT)).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )


def pseudo_kb(tokens: DataFrame, keep_mod: int = 5) -> DataFrame:
    """Deterministic pseudo-KB over the corpus vocabulary: ordered
    token pairs (a < b) kept when h60(a\\x01b) % keep_mod == 0, with the
    relation (one of ``rel_0..rel_2``) drawn from an independently
    salted hash. Stands in for the real KB (Wikidata at production
    scale) in tests/benchmarks — the alignment operators themselves are
    KB-agnostic. The vocabulary
    distinct is one shuffle over the mention table; the pair generation
    is vocabulary × vocabulary, fine for catalog-sized vocabularies
    (real KBs arrive as a table and skip this step entirely)."""
    vocab = tokens.select("tok").distinct()
    a = vocab.select(F.col("tok").alias("s_name"))
    b = vocab.select(F.col("tok").alias("o_name"))
    pair_key = F.concat(F.col("s_name"), F.lit("\x01"), F.col("o_name"))
    rel_key = F.concat(F.lit("r\x02"), pair_key)
    return (
        a.crossJoin(b)
        .filter(F.col("s_name") < F.col("o_name"))
        .filter(h60(pair_key) % keep_mod == 0)
        .withColumn(
            "r",
            F.concat(F.lit("rel_"), (h60(rel_key) % 3).cast("string")),
        )
        .select("s_name", "r", "o_name")
    )


def pseudo_kb_sql() -> str:
    """DuckDB CTE chain twin of :func:`doc_tokens` + :func:`pseudo_kb`
    (``keep_mod=5``) over ``documents.text``. Emits CTEs ``al_tok``
    (distinct doc_id, tok) and ``al_kb`` (s_name, r, o_name); the caller
    composes them into a WITH clause."""
    pair = "(s_name || chr(1) || o_name)"
    rel = f"('r' || chr(2) || {pair})"
    return f"""
al_tok AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
al_vocab AS (SELECT DISTINCT tok FROM al_tok),
al_kb AS (
  SELECT s_name, 'rel_' || ({h60_sql(rel)} % 3)::varchar AS r,
         o_name
  FROM (
    SELECT a.tok AS s_name, b.tok AS o_name
    FROM al_vocab a CROSS JOIN al_vocab b WHERE a.tok < b.tok
  )
  WHERE {h60_sql(pair)} % 5 = 0
)"""


def distant_supervision(tokens: DataFrame, kb: DataFrame) -> DataFrame:
    """Document-level distant-supervision alignment: one row per
    (doc_id, s_name, r, o_name) where the document mentions BOTH
    endpoint entities of a KB triple. Inverted-index shape: mentions
    join KB on the subject name, then a second mention join on
    (doc_id, object name) — no text re-scan, no corpus × KB product.
    The KB side is broadcast: it is dimension-sized."""
    subj_hits = tokens.join(F.broadcast(kb), tokens.tok == kb.s_name).select(
        "doc_id", "s_name", "r", "o_name"
    )
    obj_mentions = tokens.select("doc_id", F.col("tok").alias("o_name"))
    return subj_hits.join(obj_mentions, ["doc_id", "o_name"]).select(
        "doc_id", "s_name", "r", "o_name"
    )


def doc_token_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, tok, pos) mention table with pos = 1-based index of the
    token's FIRST occurrence in the single-space split (empties occupy
    a position but emit no row — matching DuckDB's
    ``generate_subscripts`` over the same split). The span-aware
    sibling of :func:`doc_tokens`: same one-shuffle shape, the groupBy
    both dedups mentions and picks min(pos)."""
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower(F.col("text")), _SPLIT)).alias(
                "pos0", "tok"
            ),
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg((F.min("pos0") + F.lit(1)).cast("long").alias("pos"))
    )


def distant_supervision_spans(
    positions: DataFrame, kb: DataFrame
) -> DataFrame:
    """Span-anchored distant supervision — the actual REBEL-style
    training-example emitter: one row per (doc_id, KB triple) whose
    document mentions both endpoints, carrying the 1-based token
    position of each endpoint's first mention (s_pos, o_pos). Sequence
    labelers / span-pair extractors train directly off these anchors;
    the span-free :func:`distant_supervision` is the aggregate-support
    view of the same join. Identical two-join inverted-index shape,
    positions ride along for free (picked up in the same aggregations
    that dedup mentions)."""
    subj_hits = positions.join(F.broadcast(kb), positions.tok == kb.s_name).select(
        "doc_id", "s_name", "r", "o_name", F.col("pos").alias("s_pos")
    )
    obj_mentions = positions.select(
        "doc_id", F.col("tok").alias("o_name"), F.col("pos").alias("o_pos")
    )
    return subj_hits.join(obj_mentions, ["doc_id", "o_name"]).select(
        "doc_id", "s_name", "r", "o_name", "s_pos", "o_pos"
    )


def distant_support(hits: DataFrame, n_docs_df: DataFrame) -> DataFrame:
    """Aggregate alignment hits to per-triple support: number of
    supporting documents and support in integer ppm of the corpus.
    ``n_docs_df`` is a 1-row (n_docs bigint) frame (kept as a cross
    join so the plan stays fully lazy/distributed)."""
    per_triple = hits.groupBy("s_name", "r", "o_name").agg(
        F.countDistinct("doc_id").cast("long").alias("n_support")
    )
    return per_triple.crossJoin(F.broadcast(n_docs_df)).select(
        "s_name",
        "r",
        "o_name",
        "n_support",
        F.expr("n_support * 1000000L div n_docs").alias("support_ppm"),
    )


def entity_cooccurrence(tokens: DataFrame, n_docs_df: DataFrame) -> DataFrame:
    """Entity-pair co-occurrence with an exact integer PMI-style lift:
    for unordered token pairs (a < b) sharing a document,

        lift_ppm = floor(n_ab * n_docs * 1_000_000 / (n_a * n_b))

    — the inside of PMI (joint over product of marginals) in parts per
    million; > 1_000_000 means above-chance co-occurrence. Integer
    floor-div keeps the oracle exact. int64 bound: safe while
    n_ab * n_docs < ~9.2e12 (corpus fan-in per pair times corpus size);
    production corpora scale the constant down or use log-space floats
    once past oracle territory.

    Plan: pair generation is a self-join of the distinct mention table
    on doc_id (fan-out bounded per document by its distinct catalog
    mentions), one groupBy per pair, marginals one groupBy on token,
    then two broadcast-sized joins marginals→pairs."""
    a = tokens.select("doc_id", F.col("tok").alias("a"))
    b = tokens.select("doc_id", F.col("tok").alias("b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    marg = tokens.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok")
    )
    return (
        pairs.join(
            F.broadcast(marg.select(F.col("tok").alias("a"), F.col("n_tok").alias("n_a"))),
            "a",
        )
        .join(
            F.broadcast(marg.select(F.col("tok").alias("b"), F.col("n_tok").alias("n_b"))),
            "b",
        )
        .crossJoin(F.broadcast(n_docs_df))
        .select(
            "a",
            "b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr("n_ab * n_docs * 1000000L div (n_a * n_b)").alias(
                "lift_ppm"
            ),
        )
    )


def sentence_tokens(sents: DataFrame) -> DataFrame:
    """Distinct (doc_id, sent_idx, tok) mention table over sentence
    rows (extract.sentences_df output) — the sentence-grain sibling of
    :func:`doc_tokens`. Trailing/embedded periods strip from tokens
    (sentence splitting leaves them on the final token) so mentions
    keep matching catalog names."""
    return (
        sents.select(
            "doc_id",
            "sent_idx",
            F.explode(F.split(F.lower(F.col("input")), _SPLIT)).alias("tok0"),
        )
        .select(
            "doc_id",
            "sent_idx",
            F.translate(F.col("tok0"), ".", "").alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )


def distant_supervision_sentences(
    stoks: DataFrame, kb: DataFrame
) -> DataFrame:
    """Sentence-bounded distant supervision — the actual REBEL
    construction semantics: a KB triple is supported only where BOTH
    endpoint entities appear in the SAME sentence (doc-level
    co-occurrence is far noisier; Riedel et al. 2010's at-least-one
    assumption operates at this grain). Same two-join inverted-index
    shape as the doc-level form, keyed on (doc, sentence); aggregates
    to per-triple sentence and document support counts."""
    subj = stoks.join(F.broadcast(kb), stoks.tok == kb.s_name).select(
        "doc_id", "sent_idx", "s_name", "r", "o_name"
    )
    obj = stoks.select("doc_id", "sent_idx", F.col("tok").alias("o_name"))
    hits = subj.join(obj, ["doc_id", "sent_idx", "o_name"]).distinct()
    return hits.groupBy("s_name", "r", "o_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_sent_support"),
        F.countDistinct("doc_id").cast("long").alias("n_doc_support"),
    )
