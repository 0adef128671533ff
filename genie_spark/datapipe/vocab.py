"""Distributed tokenizer vocabulary induction: BPE merge learning.

Classic BPE training (Sennrich, Haddow & Birch 2016) loops: count
adjacent symbol pairs over the word-frequency table, merge the most
frequent pair everywhere, repeat. The reference implementations run
this loop in one process over an in-memory counter; at 100 TB the
word-frequency table itself is a distributed aggregate, so the loop
must be a sequence of DISTRIBUTED plans. This module expresses each
round as: one partial-agg pair-count groupBy + a 1-row
TakeOrderedAndProject (the argmax pair, with a deterministic
``(count desc, left, right)`` tiebreak) + a row-local merge
application — the chosen pair flows through the plan as a broadcast
1-row frame, NEVER a driver-side ``collect``.

Determinism contract (what makes the DuckDB twin possible):

* Symbol sequences are spaced strings (``" c h a r s "``); a merge
  ``(l, r) -> lr`` is applied as TWO passes of leftmost-nonoverlapping
  ``replace(" l r ", " lr ")`` — both engines scan replace identically,
  and the second pass catches the occurrence whose leading space the
  first pass consumed (``" a b a b "`` needs it). Runs longer than two
  adjacent occurrences can leave a residual pair until a later round —
  a documented greedy-per-round quirk shared bit-for-bit by both
  engines (real BPE trainers likewise differ in tie/overlap handling).
* Pair counts are integer sums over the word-frequency table; the
  argmax tiebreak is total, so every round's choice is unique.

``bpe_learn_merges`` returns the merge table ``(step, left, right,
merged, pair_cnt)`` — the artifact a tokenizer ships.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_freq(docs: DataFrame) -> DataFrame:
    """(word, cnt) — the BPE training input. One partial-agg groupBy."""
    return (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), " "),
                    lambda x: x != F.lit(""),
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _spaced_chars(word) -> "F.Column":
    """`` c h a r s `` — every char spaced, leading + trailing space.
    regexp_replace('(.)' -> '$1 ') is global in both engines and avoids
    the engines' divergent empty-separator split semantics."""
    return F.concat(F.lit(" "), F.regexp_replace(word, "(.)", "$1 "))


# The registry's merge count: the SQL twins are built at it, and the Spark
# entries pass it to bpe_learn_merges / bpe_encode_stats.
BPE_MERGES = 6


def _apply_merge(seq, l, r):
    """Two-pass leftmost-nonoverlapping replace of `` l r `` -> `` lr ``
    (Column form; all args Columns)."""
    pat = F.concat(F.lit(" "), l, F.lit(" "), r, F.lit(" "))
    rep = F.concat(F.lit(" "), l, r, F.lit(" "))
    return F.replace(F.replace(seq, pat, rep), pat, rep)


def bpe_learn_merges(docs: DataFrame, merges: int = 6) -> DataFrame:
    """Learn ``merges`` BPE merges over the corpus word-frequency
    table; returns the merge table ``(step, left, right, merged,
    pair_cnt)``, one row per round in learned order.

    Scale shape per round: symbol split + pair generation are
    row-local over the word table (vocabulary-sized, NOT corpus-sized
    — the frequency table is the classic BPE compression of the
    corpus); pair counting is ONE partial-agg groupBy; the argmax is a
    1-row TakeOrderedAndProject broadcast-cross-joined into the merge
    application (no driver collect, the whole loop is lazy plans);
    lineage is cut per round (the word table is re-derived otherwise).
    Assumes every round has at least one pair with count >= 1 (true
    unless the vocabulary is fully merged — bound ``merges``
    accordingly)."""
    wf = word_freq(docs).localCheckpoint(eager=True)
    sq = wf.select("cnt", _spaced_chars(F.col("word")).alias("seq"))
    merge_rows = None
    for i in range(1, merges + 1):
        sy = sq.select("cnt", F.split(F.trim("seq"), " ").alias("sy"))
        pairs = sy.filter(F.size("sy") >= 2).select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("sy") - 1),
                    lambda k: F.struct(
                        F.element_at("sy", k).alias("l"),
                        F.element_at("sy", k + 1).alias("r"),
                    ),
                )
            ).alias("p"),
        )
        pc = pairs.groupBy(
            F.col("p.l").alias("l"), F.col("p.r").alias("r")
        ).agg(F.sum("cnt").cast("long").alias("c"))
        tp = (
            pc.orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .localCheckpoint(eager=True)
        )
        row = tp.select(
            F.lit(i).cast("int").alias("step"),
            F.col("l").alias("left"),
            F.col("r").alias("right"),
            F.concat("l", "r").alias("merged"),
            F.col("c").alias("pair_cnt"),
        )
        merge_rows = row if merge_rows is None else merge_rows.union(row)
        sq = (
            sq.crossJoin(F.broadcast(tp))
            .select("cnt", _apply_merge(F.col("seq"), F.col("l"), F.col("r")).alias("seq"))
            .localCheckpoint(eager=True)
        )
    return merge_rows


def bpe_sql_chain() -> str:
    """DuckDB twin of :func:`bpe_learn_merges` over ``documents`` at
    ``BPE_MERGES``: emits ``bwf/bsq0/../bsq{merges}`` + per-round
    ``bpc{i}/btp{i}`` CTEs and a final ``bmerges`` with the merge-table
    rows. All MATERIALIZED (each round references the previous sequence
    table several times)."""
    merges = BPE_MERGES
    parts = [
        """bwf AS MATERIALIZED (
  SELECT word, count(*)::BIGINT AS cnt FROM (
    SELECT unnest(list_filter(string_split(lower(text), ' '),
                              t -> t <> '')) AS word
    FROM documents) GROUP BY word)""",
        """bsq0 AS MATERIALIZED (
  SELECT cnt, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
  FROM bwf)""",
    ]
    for i in range(1, merges + 1):
        p = f"bsq{i - 1}"
        l_, r_ = f"(SELECT l FROM btp{i})", f"(SELECT r FROM btp{i})"
        pat = f"' ' || {l_} || ' ' || {r_} || ' '"
        rep = f"' ' || {l_} || {r_} || ' '"
        parts.append(
            f"""bpc{i} AS MATERIALIZED (
  SELECT pr[1] AS l, pr[2] AS r, sum(cnt)::BIGINT AS c FROM (
    SELECT cnt, unnest(list_transform(range(1, len(sy)),
                                      k -> [sy[k], sy[k + 1]])) AS pr
    FROM (SELECT cnt, string_split(trim(seq), ' ') AS sy FROM {p})
    WHERE len(sy) >= 2)
  GROUP BY 1, 2)"""
        )
        parts.append(
            f"btp{i} AS MATERIALIZED (SELECT l, r, c FROM bpc{i}"
            f" ORDER BY c DESC, l, r LIMIT 1)"
        )
        parts.append(
            f"""bsq{i} AS MATERIALIZED (
  SELECT cnt, replace(replace(seq, {pat}, {rep}), {pat}, {rep}) AS seq
  FROM {p})"""
        )
    rows = " UNION ALL ".join(
        f'SELECT {i}::INT AS step, l AS "left", r AS "right",'
        f" l || r AS merged, c AS pair_cnt FROM btp{i}"
        for i in range(1, merges + 1)
    )
    parts.append(f"bmerges AS ({rows})")
    return ",\n".join(parts)


def _doc_seq(text) -> "F.Column":
    """Whole-document symbol string: lowercased, words spaced-char
    encoded, word boundaries kept as a ``|`` sentinel symbol (never in
    the merge table, so merges cannot cross words)."""
    return F.concat(
        F.lit(" "),
        F.regexp_replace(
            F.replace(F.lower(text), F.lit(" "), F.lit(" | ")),
            "([^ |])",
            "$1 ",
        ),
    )


def _symbol_count(seq) -> "F.Column":
    """Non-sentinel symbol count of a spaced symbol string."""
    return F.size(
        F.filter(
            F.split(F.trim(seq), " "),
            lambda x: (x != F.lit("|")) & (x != F.lit("")),
        )
    ).cast("long")


def bpe_encode_stats(
    docs: DataFrame,
    merge_table: DataFrame,
    merges: int,
) -> DataFrame:
    """Apply a learned merge table to the corpus (in step order, the
    same two-pass replace as training) and report the encoding effect:
    one row ``(n_docs, n_symbols_before, n_symbols_after,
    compression_ppm)`` — the "how much did my tokenizer shrink the
    corpus" audit. The apply path is ROW-LOCAL (6 string replaces per
    document), so at 100 TB it is a pure map over the corpus; each
    merge arrives as a broadcast 1-row frame from the (tiny,
    already-checkpointed) merge table, never a driver value."""
    from .dedup import spread_for_compute

    # the merge chain below is merges × string-replaces per document —
    # compute-bound row-local work; spread the single-split scan
    seq0 = spread_for_compute(docs).select(_doc_seq(F.col("text")).alias("seq"))
    before = seq0.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(_symbol_count(F.col("seq"))).cast("long").alias("n_symbols_before"),
    )
    seq = seq0
    for i in range(1, merges + 1):
        m = merge_table.filter(F.col("step") == i).select(
            F.col("left").alias("_l"), F.col("right").alias("_r")
        )
        seq = seq.crossJoin(F.broadcast(m)).select(
            _apply_merge(F.col("seq"), F.col("_l"), F.col("_r")).alias("seq")
        )
    after = seq.agg(
        F.sum(_symbol_count(F.col("seq"))).cast("long").alias("n_symbols_after")
    )
    return (
        before.crossJoin(after)
        .select(
            "n_docs",
            "n_symbols_before",
            "n_symbols_after",
            F.expr("(n_symbols_after * 1000000L) div n_symbols_before").alias(
                "compression_ppm"
            ),
        )
    )


def bpe_encode_sql() -> str:
    """DuckDB twin of :func:`bpe_encode_stats` over ``documents`` at
    ``BPE_MERGES``, composing on the ``btp{i}`` merge CTEs of
    :func:`bpe_sql_chain`: emits ``benc0..benc{merges}/bstat``."""
    merges = BPE_MERGES
    parts = [
        """benc0 AS MATERIALIZED (
  SELECT ' ' || regexp_replace(replace(lower(text), ' ', ' | '),
                               '([^ |])', '\\1 ', 'g') AS seq
  FROM documents)""",
    ]
    for i in range(1, merges + 1):
        l_, r_ = f"(SELECT l FROM btp{i})", f"(SELECT r FROM btp{i})"
        pat = f"' ' || {l_} || ' ' || {r_} || ' '"
        rep = f"' ' || {l_} || {r_} || ' '"
        parts.append(
            f"""benc{i} AS MATERIALIZED (
  SELECT replace(replace(seq, {pat}, {rep}), {pat}, {rep}) AS seq
  FROM benc{i - 1})"""
        )
    nsym = (
        "sum(len(list_filter(string_split(trim(seq), ' '),"
        " x -> x <> '|' AND x <> '')))::BIGINT"
    )
    parts.append(
        f"""bstat AS (
  SELECT (SELECT count(*)::BIGINT FROM benc0) AS n_docs,
         (SELECT {nsym} FROM benc0) AS n_symbols_before,
         (SELECT {nsym} FROM benc{merges}) AS n_symbols_after)"""
    )
    return ",\n".join(parts)
