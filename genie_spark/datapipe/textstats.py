"""Text analysis for corpus curation: language-ID, quality scoring, token
counting, document fingerprinting.

All row-local Column expressions (regex + higher-order functions) — the
whole module runs inside whole-stage codegen with zero shuffles and zero
Python, so it costs one scan at any corpus size and composes with
predicate pushdown (e.g. `quality_score > 0.5 AND lang_guess = 'en'`
prunes before the expensive extraction stage).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashes import h60

# tiny seeded stopword inventories for the n-gram/stopword language
# heuristic; deterministic and identical in the DuckDB oracle
STOPWORDS = {
    "en": ["the", "and", "of", "a", "to", "in", "is", "that", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "nicht", "auf"],
    "fr": ["le", "la", "les", "et", "est", "de", "un", "une", "dans", "pour"],
    "es": ["el", "la", "los", "las", "y", "es", "de", "un", "una", "por"],
}

TOKEN_PATTERN = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"  # BPE-ish: word runs or single punct


def lang_scores_col():
    """Per-language stopword hit-rate columns of the ``text`` column. The
    guess is the argmax (ties → lexicographic language order,
    deterministic)."""
    w = F.split(F.lower(F.col("text")), "\\s+")
    n = F.greatest(F.size(w), F.lit(1))
    scores = {}
    for lang, words in STOPWORDS.items():
        arr = F.array(*[F.lit(x) for x in words])
        hits = F.size(F.filter(w, lambda t: F.array_contains(arr, t)))
        scores[lang] = F.round(hits / n, 6)
    return scores


def lang_id(docs: DataFrame) -> DataFrame:
    """(id, score_en/de/fr/es, lang_guess)."""
    scores = lang_scores_col()
    cols = [F.col("doc_id")] + [s.alias(f"score_{l}") for l, s in sorted(scores.items())]
    out = docs.select(*cols)
    guess = F.lit("unknown")
    best = F.lit(-1.0)
    for lang in sorted(STOPWORDS):  # later langs win only strictly
        c = F.col(f"score_{lang}")
        guess = F.when(c > best, F.lit(lang)).otherwise(guess)
        best = F.when(c > best, c).otherwise(best)
    return out.withColumn("lang_guess", F.when(best <= 0, "unknown").otherwise(guess))


def _quality_cols() -> "dict[str, Column]":
    """The quality feature expressions of the ``text`` column, keyed by
    output column name — shared by ``quality_features`` and the
    single-pass ``quality_gate``."""
    t = F.col("text")
    n_chars = F.length(t)
    words = F.split(t, "\\s+")
    n_words = F.size(words)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, "[^A-Za-z0-9\\s]", ""))
    en = F.array(*[F.lit(x) for x in STOPWORDS["en"]])
    stop_ratio = F.round(
        F.size(F.filter(F.transform(words, lambda x: F.lower(x)), lambda x: F.array_contains(en, x)))
        / F.greatest(n_words, F.lit(1)),
        6,
    )
    mean_wlen = F.round(
        (F.length(F.regexp_replace(t, "\\s+", ""))) / F.greatest(n_words, F.lit(1)), 6
    )
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    # composite: long enough, low punct noise, some stopwords, sane word
    # len. Multiplier 3.0 (not 2.5): ×2.5 of a 6dp-rounded ratio lands
    # exactly on .5 at the 7th digit, where Spark/DuckDB round-half modes
    # disagree; ×3.0 keeps every term 6dp-exact.
    score = (
        F.when(n_words >= 20, 0.25).otherwise(n_words / 80.0)
        + F.when(punct_ratio <= 0.1, 0.25).otherwise(F.greatest(F.lit(0.0), 0.25 - punct_ratio))
        + F.least(stop_ratio * F.lit(3.0), F.lit(0.25))
        + F.when((mean_wlen >= 3) & (mean_wlen <= 10), 0.25).otherwise(0.0)
    )
    return {
        "n_chars_m": n_chars,
        "n_words": n_words,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
        "mean_word_len": mean_wlen,
        "quality_score": F.round(score, 6),
    }


def quality_features(docs: DataFrame) -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio / mean-word-length
    features + a composite quality score in [0,1]."""
    cols = _quality_cols()
    return docs.select(
        F.col("doc_id"), *[c.alias(name) for name, c in cols.items()]
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens vs BPE-ish regex tokens (word runs + punct)."""
    t = F.col("text")
    return docs.select(
        F.col("doc_id"),
        F.size(F.split(F.trim(t), "\\s+")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(TOKEN_PATTERN), 0)).alias("re_tokens"),
    )


def repetition_features(docs: DataFrame) -> DataFrame:
    """Intra-document repetition signals (the Gopher-style rep filters
    used to drop boilerplate/spam before LLM training): duplicate word
    n-gram fractions for n=2,3 (1 − distinct/total over the doc's own
    n-grams) and top-word dominance (most frequent word's share). All
    row-local higher-order functions — zero shuffle, codegen'd, and
    filter-composable (``dup_3gram_frac < 0.2 AND top_word_frac < 0.3``
    prunes at the scan)."""
    cols = _repetition_cols()
    return docs.select(
        F.col("doc_id"), *[c.alias(name) for name, c in cols.items()]
    )


def _repetition_cols() -> "dict[str, Column]":
    """The repetition feature expressions of the ``text`` column, keyed
    by output column name — shared by ``repetition_features`` and the
    single-pass ``quality_gate``."""
    w = F.split(F.col("text"), " ")
    n_words = F.size(w)

    def dup_frac(n: int) -> Column:
        grams = F.when(
            n_words >= n,
            F.transform(
                F.sequence(F.lit(1), n_words - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(w, i, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", w)))
        total = F.size(grams)
        return F.round(
            (total - F.size(F.array_distinct(grams)))
            / F.greatest(total, F.lit(1)).cast("double"),
            6,
        )

    # most frequent word's share: for each distinct word, count its
    # occurrences with a filter. O(distinct × n) per row but flat
    # primitive comparisons — measured FASTER (4.2s vs 6.7s at sf0.1)
    # than the asymptotically-better sorted-run fold, whose per-step
    # struct-state allocation dominates at web-document lengths.
    distinct_w = F.array_distinct(w)
    top = F.array_max(
        F.transform(distinct_w, lambda d: F.size(F.filter(w, lambda x: x == d)))
    )
    top_frac = F.round(top / F.greatest(n_words, F.lit(1)).cast("double"), 6)
    return {
        "dup_2gram_frac": dup_frac(2),
        "dup_3gram_frac": dup_frac(3),
        "top_word_frac": top_frac,
    }


# RE2-safe patterns (no lookaround/backrefs) so the Java-regex Spark path
# and the RE2 DuckDB oracle match token-for-token
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
URL_PATTERN = "https?://[A-Za-z0-9./_-]+"


def contact_flags(docs: DataFrame) -> DataFrame:
    """PII / contact-surface flags for curation policy filters: per-doc
    email and URL match counts plus a has_contact boolean. Row-local
    regexp_extract_all — zero shuffle; the boolean composes into scan
    predicates (``NOT has_contact``) for policy-gated training sets.
    Deliberately pattern-conservative (RE2-safe, no \\S/\\w class
    divergence) so the counts are engine-exact; a production deployment
    layers jurisdiction-specific pattern packs on the same shape."""
    t = F.col("text")
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_PATTERN), 0))
    n_urls = F.size(F.regexp_extract_all(t, F.lit(URL_PATTERN), 0))
    return docs.select(
        F.col("doc_id"),
        n_emails.alias("n_emails"),
        n_urls.alias("n_urls"),
        ((n_emails > 0) | (n_urls > 0)).alias("has_contact"),
    )


def redact_col(t: Column) -> Column:
    """The redacted-text expression (emails → ``<EMAIL>``, URLs →
    ``<URL>``) — row-local, so it composes into in-place column
    rewrites without a join."""
    return F.regexp_replace(
        F.regexp_replace(t, EMAIL_PATTERN, "<EMAIL>"), URL_PATTERN, "<URL>"
    )


def redact_contacts(docs: DataFrame) -> DataFrame:
    """PII redaction (the write-side companion of ``contact_flags``):
    replace every email with ``<EMAIL>`` and every URL with ``<URL>``.
    Emails are replaced first; the URL pattern cannot match the inserted
    ``<EMAIL>`` token and the email pattern cannot match inside a URL
    (no ``@``), so the two passes are order-exact. Row-local
    regexp_replace — zero shuffle, one scan at any corpus size."""
    t = F.col("text")
    clean = redact_col(t)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_PATTERN), 0))
    n_urls = F.size(F.regexp_extract_all(t, F.lit(URL_PATTERN), 0))
    return docs.select(
        F.col("doc_id"),
        clean.alias("clean_text"),
        n_emails.alias("n_redacted_emails"),
        n_urls.alias("n_redacted_urls"),
    )


def gate_reasons_col(
    n_words: Column,
    punct_ratio: Column,
    stopword_ratio: Column,
    top_word_frac: Column,
    dup_3gram_frac: Column,
) -> Column:
    """The ordered fail_reasons expression over already-computed feature
    columns (empty string = passed): 20..90 words, punctuation ratio <=
    0.1, stopword ratio >= 0.02, top-word share <= 0.2, duplicate
    3-gram fraction <= 0.1. Pure Column math, so it composes into
    selects and scan-predicate filters."""
    checks = [
        ("too_short", n_words < 20),
        ("too_long", n_words > 90),
        ("high_punct", punct_ratio > 0.1),
        ("low_stopword", stopword_ratio < 0.02),
        ("top_word", top_word_frac > 0.2),
        ("dup_3gram", dup_3gram_frac > 0.1),
    ]
    return F.concat_ws(
        ";", *[F.when(cond, F.lit(name)) for name, cond in checks]
    )


def gate_passed_col() -> Column:
    """Single-expression keep/drop boolean over the raw ``text`` column —
    the filter form of :func:`quality_gate` for cascade stages that
    only need the verdict (row-local, join-free). Recomputes
    the feature expressions inline; use :func:`quality_gate` when the
    feature values themselves are needed."""
    cols = {**_quality_cols(), **_repetition_cols()}
    return (
        gate_reasons_col(
            n_words=cols["n_words"],
            punct_ratio=cols["punct_ratio"],
            stopword_ratio=cols["stopword_ratio"],
            top_word_frac=cols["top_word_frac"],
            dup_3gram_frac=cols["dup_3gram_frac"],
        )
        == ""
    )


def quality_gate(docs: DataFrame) -> DataFrame:
    """Composite keep/drop gate over the quality + repetition features —
    the single-pass filter a curation pipeline actually runs (Gopher-style
    document filtering). Both feature families are row-local Column
    expressions, so the gate is ONE select over ONE scan (no join);
    ``fail_reasons`` lists the tripped checks in a fixed order so drops
    are auditable, and ``passed`` composes into scan predicates for the
    downstream extraction stage."""
    # materialize every feature once in an inner projection: each is
    # referenced 2-3 times below, and re-expanding the HOF trees per
    # reference measurably slows the scan (6.4s vs ~4s at sf0.1).
    # CollapseProject keeps multi-referenced non-trivial aliases
    # materialized, so the outer expressions are cheap column refs.
    cols = {**_quality_cols(), **_repetition_cols()}
    feat = docs.select(
        F.col("doc_id"), *[c.alias(name) for name, c in cols.items()]
    )
    reasons = gate_reasons_col(
        n_words=F.col("n_words"),
        punct_ratio=F.col("punct_ratio"),
        stopword_ratio=F.col("stopword_ratio"),
        top_word_frac=F.col("top_word_frac"),
        dup_3gram_frac=F.col("dup_3gram_frac"),
    )
    return feat.select(
        F.col("doc_id"),
        "n_words",
        "quality_score",
        "top_word_frac",
        "dup_3gram_frac",
        reasons.alias("fail_reasons"),
        (reasons == "").alias("passed"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Rolling-hash document fingerprint: min/max h60 over word 3-shingles
    (winnowing-lite) + full-text md5. Row-local."""
    from .dedup import shingles_col

    from .dedup import spread_for_compute

    # min and max come out of ONE evaluation of the hash array: the
    # hash transform is bound as a lambda variable (1-element array +
    # explode materializes the struct once per row) — a plain local
    # Column referenced by both array_min and array_max would be inlined
    # twice and double every shingle md5 (interpreted HOFs get no CSE)
    mm = F.explode(
        F.transform(
            F.array(F.transform(shingles_col(), lambda s: h60(s))),
            lambda h: F.struct(
                F.array_min(h).alias("mn"), F.array_max(h).alias("mx")
            ),
        )
    )
    return spread_for_compute(docs).select(
        F.col("doc_id"),
        mm.alias("_m"),
        F.md5(F.col("text")).alias("fp_md5"),
    ).select(
        "doc_id",
        F.col("_m.mn").alias("fp_min"),
        F.col("_m.mx").alias("fp_max"),
        "fp_md5",
    )


def domain_quality_stats(docs: DataFrame) -> DataFrame:
    """Per-domain corpus profile (the RefinedWeb/CCNet-style curation
    view: which hosts contribute how much text at what quality). One
    partial-aggregated groupBy on the domain — counts and token totals
    are exact integer sums; the quality MEAN is determinism-safe by
    quantizing each doc's (already 6dp-exact) score to integer ppm
    before summing, so no float accumulation order can flutter the
    result (the split_thresholds integer-ppm discipline). max is
    order-independent for doubles and stays float."""
    feats = quality_features(docs).select(
        "doc_id", "n_words", "quality_score"
    )
    base = docs.select(F.col("doc_id"), F.col("source").alias("domain"))
    q_fp = F.floor(F.col("quality_score") * 1e6).cast("long")
    return (
        base.join(feats, "doc_id")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
            F.sum(q_fp).cast("long").alias("_sq"),
            F.max("quality_score").alias("max_quality"),
        )
        .select(
            "domain", "n_docs", "total_words",
            F.round((F.col("_sq") / F.col("n_docs")) / 1e6, 6).alias("mean_quality"),
            "max_quality",
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    scale: int = 10**6,
) -> DataFrame:
    """Top-``k`` most characteristic terms per document by tf×idf with a
    LINEAR inverse document frequency in integer fixed-point::

        idf_fp(t)   = (N_docs * scale) // df(t)
        score_fp    = tf(doc, t) * idf_fp(t)

    log-idf is the textbook damping but log() is not bit-identical
    across engines; linear idf preserves the per-document ranking the
    top-k consumes whenever tf patterns are comparable, and makes the
    whole operator exact-integer (the split_thresholds discipline).
    Ties rank lexicographically by term — fully deterministic. Returns
    ``(id, term, tf, score_fp, rnk)``.

    Scale shape (100 TB): tf is a partial-agg groupBy on (doc, term);
    df is a partial-agg distinct-doc count per term; the join is a
    standard shuffle join on term (the term dictionary is Zipfian but
    the per-term row count IS df — the join output equals the tf table,
    no blowup); top-k is one window partitioned by doc."""
    from pyspark.sql import Window

    # no spread here: tf is referenced by BOTH df_t and the final join,
    # so the scan+explode subtree executes twice — an added repartition
    # multiplies instead of amortizing (measured 0.6s -> 3.4s)
    toks = docs.select(
        F.col("doc_id"), F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_t = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(n_docs)
        .select(
            "doc_id", "term", "tf",
            F.expr(f"tf * ((nd * {scale}L) div df)").alias("score_fp"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_fp").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "score_fp", "rnk")
    )


def lm_surprisal_bits(docs: DataFrame, ref: DataFrame) -> DataFrame:
    """CCNet-style reference-LM quality signal (Wenzek et al. 2020 score
    docs by the perplexity of a Wikipedia-trained LM; cf.
    cc_net/perplexity.py): per-document cross-entropy against a unigram
    LM estimated from ``ref``, in EXACT integer bits.

    log2 of a probability is engine-divergent float math, so the
    surprisal of a token is taken at integer grain::

        c'(w)  = count_ref(w) + 1        (add-one smoothing, OOV -> 1)
        T'     = total_ref_tokens + 1
        bits(w) = floor(log2(T' / c'(w))) = length(bin(T' div c'(w))) - 1

    floor(log2(x)) over the integer quotient equals floor(log2) of the
    real ratio for x >= 1, and ``bin()`` of a bigint is identical in
    Spark and DuckDB — the whole score is exact integer arithmetic.
    Returns ``(id, n_tokens, oov_tokens, sum_bits, mean_bits_ppm)``
    where mean_bits_ppm = (sum_bits * 1e6) div n_tokens.

    Scale shape (100 TB): the count table is vocabulary-sized and
    broadcast; the corpus explodes to token rows but the groupBy back to
    ``id`` partial-aggregates map-side (a document lives in one
    partition, so the shuffle carries ~one row per document). The
    reference corpus is scanned once; no corpus-vs-corpus shuffle."""
    toks = lambda df: (
        df.select(
            F.col("doc_id"),
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
        ).filter(F.col("tok") != "")
    )
    ref_toks = toks(ref)
    cnt = ref_toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = ref_toks.agg((F.count(F.lit(1)) + 1).cast("long").alias("tprime"))
    scored = (
        toks(docs)
        .join(F.broadcast(cnt), "tok", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.when(F.col("c").isNull(), F.lit(1)).otherwise(F.lit(0))
            .cast("long").alias("oov"),
            (F.length(F.bin(F.expr("tprime div (coalesce(c, 0L) + 1L)"))) - 1)
            .cast("long").alias("bits"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("oov").cast("long").alias("oov_tokens"),
        F.sum("bits").cast("long").alias("sum_bits"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("oov_tokens", F.lit(0)).cast("long").alias("oov_tokens"),
            F.coalesce("sum_bits", F.lit(0)).cast("long").alias("sum_bits"),
            F.expr(
                "coalesce(sum_bits, 0L) * 1000000L div greatest(coalesce(n_tokens, 0L), 1L)"
            ).cast("long").alias("mean_bits_ppm"),
        )
    )


def lm_surprisal_sql() -> str:
    """DuckDB twin of :func:`lm_surprisal_bits` — same integer-bits
    formula over the same single-space split — scoring ``documents``
    against the reference LM of its ``doc_id % 13 = 0`` rows."""
    return """
WITH lm_toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
lm_tf AS (SELECT doc_id, tok FROM lm_toks WHERE tok <> ''),
lm_ref AS (SELECT tok FROM lm_tf WHERE doc_id % 13 = 0),
lm_cnt AS (SELECT tok, count(*)::BIGINT AS c FROM lm_ref GROUP BY tok),
lm_tot AS (SELECT count(*)::BIGINT + 1 AS tprime FROM lm_ref),
lm_scored AS (
  SELECT t.doc_id,
         CASE WHEN c.c IS NULL THEN 1 ELSE 0 END AS oov,
         length(bin(tprime // (coalesce(c.c, 0) + 1))) - 1 AS bits
  FROM lm_tf t LEFT JOIN lm_cnt c USING (tok) CROSS JOIN lm_tot
),
lm_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens,
         sum(oov)::BIGINT AS oov_tokens, sum(bits)::BIGINT AS sum_bits
  FROM lm_scored GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(s.oov_tokens, 0)::BIGINT AS oov_tokens,
       coalesce(s.sum_bits, 0)::BIGINT AS sum_bits,
       (coalesce(s.sum_bits, 0) * 1000000 // greatest(coalesce(s.n_tokens, 0), 1))::BIGINT
         AS mean_bits_ppm
FROM documents d LEFT JOIN lm_doc s USING (doc_id)
"""


def length_deciles(docs: DataFrame) -> DataFrame:
    """EXACT decile boundaries of the corpus word-length distribution —
    the cutoffs curation uses to pick min/max-length filters. One row
    per decile q in 1..9: ``(decile, value)`` where value is the word
    count at sorted position ceil(n*q/10) (1-based, ties broken by doc
    id — integer-exact and engine-invariant; approximate quantile
    sketches differ per engine and per partitioning, so they can't be
    the number of record).

    Scale shape (100 TB): no single-partition sort anywhere — ranks come
    from the distributed range-partition rank (metrics._distributed_rank:
    range-repartition + local rank + broadcast offset join), and the
    decile probe is a broadcast join of NINE rows against the ranked
    corpus. The ceil is integer math ((n*q + 9) div 10), same formula in
    the DuckDB twin."""
    from ..metrics import _distributed_rank

    keyed = docs.select(
        F.col("doc_id"), F.size(F.split(F.col("text"), " ")).alias("v")
    )
    ranked, total = _distributed_rank(keyed, ["v", "doc_id"], "_rk")
    pos = total.select(
        F.explode(F.expr("sequence(1, 9)")).alias("decile"), F.col("_n")
    ).select(
        F.col("decile").cast("int").alias("decile"),
        F.expr("(_n * decile + 9) div 10 - 1").alias("_pos0"),
    )
    return (
        ranked.join(F.broadcast(pos), F.col("_rk") == F.col("_pos0"))
        .select("decile", F.col("v").cast("bigint").alias("value"))
    )


def bigram_counts(docs: DataFrame) -> DataFrame:
    """Corpus-wide ADJACENT word-pair (bigram) counts, top 100 by
    (count desc, bigram asc — the deterministic tiebreak). This is the
    inner-loop count of tokenizer/BPE training and of n-gram LM
    estimation — positional adjacency, not the doc-level set
    co-occurrence of kg_cooccurrence. Returns ``(bigram, cnt)``.

    Scale shape (100 TB): pair generation is row-local (transform over
    the word array — no self-join); the count is ONE
    partial-aggregatable groupBy on the bigram (Zipf-head bigrams
    combine map-side); top-n is TakeOrderedAndProject, never a global
    sort."""
    w = F.filter(
        F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit("")
    )
    pairs = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat(
                F.element_at(w, i), F.lit(" "), F.element_at(w, i + 1)
            ),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    from .dedup import spread_for_compute

    return (
        spread_for_compute(docs).select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(100)
    )


def collocation_lift(docs: DataFrame) -> DataFrame:
    """Collocation mining: adjacent bigrams ranked by integer PMI-lift
    ``observed/expected = (c_xy / c_x) * (N / c_y)`` in ppm — the
    multiword-expression detector (Church & Hanks 1990's PMI with the
    log dropped; log is engine-divergent float, the ratio is integer
    and rank-equivalent). Computed as ``((c_xy*1e6) // c_x) * N //
    c_y``: since ``c_xy <= c_x`` the first factor is <= 1e6, so the
    product stays inside signed-64 even at 100 TB counts (a single
    ``N*c_xy*1e6`` numerator would overflow at web scale). A minimum
    bigram count of 5 suppresses the hapax noise PMI is notorious for.
    Returns the top 20 by (lift desc, bigram asc): ``(bigram, c_xy, c_x,
    c_y, lift_ppm)``.

    Scale shape: pair generation row-local; bigram and unigram counts
    are each ONE partial-agg groupBy; the two unigram joins key on the
    Zipf-headed word column (broadcastable when the vocabulary is
    bounded); total-token count rides along as a lazy 1-row cross
    join; top-n is TakeOrderedAndProject."""
    w = F.filter(
        F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit("")
    )
    pairs = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.struct(
                F.element_at(w, i).alias("w1"),
                F.element_at(w, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.expr("array()").cast("array<struct<w1:string,w2:string>>"))
    from .dedup import spread_for_compute

    docs = spread_for_compute(docs)
    toks = docs.select(F.explode(w).alias("t"))
    uc = toks.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ntot = toks.agg(F.count(F.lit(1)).cast("long").alias("n"))
    pc = (
        docs.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    out = (
        pc.join(uc.select(F.col("t").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uc.select(F.col("t").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(ntot)
        .select(
            F.concat("w1", F.lit(" "), "w2").alias("bigram"),
            "c_xy",
            "c_x",
            "c_y",
            F.expr("((c_xy * 1000000L) div c_x) * n div c_y").alias("lift_ppm"),
        )
    )
    return out.orderBy(F.desc("lift_ppm"), F.asc("bigram")).limit(20)


def length_outliers(docs: DataFrame) -> DataFrame:
    """Per-source outlier flags on ``n_chars``: doc is an outlier
    when ``(x - mean)^2 > 2 * var`` with mean and variance both
    computed in INTEGER floor arithmetic (mean = sum div n, var =
    (sum(x^2) div n) - mean^2) — deterministic across engines, no float
    moments. Returns only the outliers: (group, id, value, mean, var).

    Scale shape: group moments are ONE partial-agg groupBy (3 sums);
    they broadcast back onto the fact scan (group-count-sized dim); the
    flag is a row-local predicate — at 100 TB this is one shuffle of
    group-sized aggregates, never of the fact table. The centered
    deviation (x - mean) is magnitude-bounded by the metric's own
    range, so the squared terms stay inside signed-64 regardless of
    group row counts (the naive n-scaled form n*x - sum overflows at
    ~1e9-row groups)."""
    v = F.col("n_chars").cast("long")
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).cast("long").alias("s1"),
        F.sum(v * v).cast("long").alias("s2"),
    ).select(
        "source",
        F.expr("s1 div n").alias("mean"),
        F.expr("(s2 div n) - (s1 div n) * (s1 div n)").alias("var"),
    )
    return (
        docs.select("source", "doc_id", v.alias("value"))
        .join(F.broadcast(stats), "source")
        .filter(
            F.expr(
                "(value - mean) * (value - mean) > 2L * greatest(var, 1L)"
            )
        )
        .select("source", "doc_id", "value", "mean", "var")
    )


def class_term_lift(docs: DataFrame) -> DataFrame:
    """Discriminative vocabulary per ``lang`` class: for each (class,
    term), the lift of the term's in-class rate over its corpus rate,
    integer ppm — ``lift = (tf_c / n_c) / (tf / n)`` computed as the shared
    two-step floor ``((tf_c * 1e6) div tf) * n div n_c`` so every
    intermediate stays inside signed-64 at any corpus size. Both token
    totals count every token: ``n_c`` the class's, ``n`` the corpus's,
    so the two rates share one census. Returns the top 10 terms per
    class by (lift desc, term asc) among terms with corpus count >= 5:
    (cls, t, tf_c, tf, lift_ppm, rank).

    Scale shape: ONE corpus explosion feeds both the (class, term) and
    the term census (partial-agg groupBys); token totals are two tiny
    aggregates broadcast back; the ranking window partitions by class
    over the min-df-cut (class × vocab)-bounded census — never raw
    token rows."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col("lang").alias("cls"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), " "),
                lambda x: x != F.lit(""),
            )
        ).alias("t"),
    )
    ct = toks.groupBy("cls", "t").agg(
        F.count(F.lit(1)).cast("long").alias("tf_c")
    )
    tt = ct.groupBy("t").agg(F.sum("tf_c").cast("long").alias("tf")).filter(
        F.col("tf") >= 5
    )
    nc = ct.groupBy("cls").agg(F.sum("tf_c").cast("long").alias("n_c"))
    na = ct.agg(F.sum("tf_c").cast("long").alias("n_all"))
    win = Window.partitionBy("cls").orderBy(
        F.desc("lift_ppm"), F.asc("t")
    )
    return (
        ct.join(tt, "t")
        .join(F.broadcast(nc), "cls")
        .crossJoin(F.broadcast(na))
        .select(
            "cls",
            "t",
            "tf_c",
            "tf",
            F.expr(
                "((tf_c * 1000000L) div tf) * n_all div n_c"
            ).alias("lift_ppm"),
        )
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 10)
    )


GATE_CHECKS = [
    "too_short", "too_long", "high_punct",
    "low_stopword", "top_word", "dup_3gram",
]


def gate_ablation(docs: DataFrame) -> DataFrame:
    """Per-filter ablation of the quality gate — the diagnostics a
    curation run reports to justify each check: for every gate
    criterion, how many docs trip it at all (n_failed) and how many
    trip ONLY it (n_failed_only = docs this single check removes — its
    marginal contribution), both in ppm of the corpus.

    Scale shape: the gate features are computed once (row-local, one
    scan); the 6-check fan-out is a constant-size explode; the tally is
    one partial-agg groupBy over 6 groups with the corpus total
    broadcast. Membership tests split fail_reasons on ';' — exact, no
    substring aliasing between check names."""
    qg = quality_gate(docs).select(
        "fail_reasons"
    )
    tot = qg.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    lits = ", ".join(f"'{c}'" for c in GATE_CHECKS)
    j = qg.select(
        "fail_reasons", F.explode(F.expr(f"array({lits})")).alias("chk")
    )
    per = j.groupBy("chk").agg(
        F.sum(
            F.when(
                F.array_contains(F.split("fail_reasons", ";"), F.col("chk")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_failed"),
        F.sum(
            F.when(F.col("fail_reasons") == F.col("chk"), 1).otherwise(0)
        ).cast("long").alias("n_failed_only"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "chk",
        "n_failed",
        "n_failed_only",
        F.expr("(n_failed * 1000000L) div n_total").alias("failed_ppm"),
        F.expr("(n_failed_only * 1000000L) div n_total").alias(
            "marginal_ppm"
        ),
    )
