"""Deterministic sampling / splitting / mixing for training-data curation.

LLM data pipelines need reproducible subsetting at corpus scale:
train/val/test splits that never leak across reruns, per-source sampling
rates ("mix 2 parts web to 1 part books"), and upsampling of scarce
high-quality strata. Spark's built-in ``df.sample`` is seed-dependent on
partitioning (a repartitioned rerun samples DIFFERENT rows), so every
operator here derives its randomness from a content hash of the row's id
— row-local Column expressions, no RNG, no shuffle, identical at any
parallelism and re-expressible in DuckDB for the oracle gate.

The uniform for row i under salt s is ``h60(s ␁ i) mod 1e6 / 1e6`` — the
same h60 primitive the dedup/bootstrap operators use (hashes.py).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashes import h60_salted, h60_salted_sql

_GRAIN = 1_000_000


def _unit(id_col: Column, salt: str) -> Column:
    """Deterministic uniform in [0, 1) at 1e-6 grain from (salt, id)."""
    return F.pmod(h60_salted(id_col.cast("string"), F.lit(salt)), F.lit(_GRAIN)) / float(
        _GRAIN
    )


def unit_sql(id_expr: str, salt: str) -> str:
    """DuckDB twin of :func:`_unit`."""
    return f"(({h60_salted_sql(id_expr, repr(salt))}) % {_GRAIN}) / {_GRAIN}.0"


def residue_sql(id_expr: str, salt: str) -> str:
    """DuckDB twin of the INTEGER hash residue (``h60 % _GRAIN``) that
    :func:`assign_split` compares against :func:`split_thresholds` cut
    points — integer-exact on both engines, no float boundary cases."""
    return f"(({h60_salted_sql(id_expr, repr(salt))}) % {_GRAIN})"


def sample_fraction(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows: row survives iff its
    hash-uniform < fraction. Rerun-stable, partitioning-independent, and
    a pure Filter (pushes past projections; no shuffle, no state)."""
    return df.filter(_unit(F.col(id_col), salt) < fraction)


def stratified_sample(
    df: DataFrame,
    fractions: Dict[str, float],
    strata_col: str,
    id_col: str = "doc_id",
    salt: str = "strata",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum sampling rates (e.g. per source or per language):
    ``fractions[stratum]`` of each stratum survives, unlisted strata get
    ``default_fraction``. One row-local CASE over the hash-uniform — the
    idiomatic replacement for ``sampleBy`` (whose output depends on
    partition layout)."""
    frac = F.lit(float(default_fraction))
    for k, v in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == k, F.lit(float(v))).otherwise(frac)
    return df.filter(_unit(F.col(id_col), salt) < frac)


def split_thresholds(weights: Dict[str, float]):
    """Cumulative interval cut points in INTEGER grain units (ppm of
    ``_GRAIN``), in sorted split-name order. Shared by the Column form and
    any SQL twin so both compare the integer hash residue against the
    exact same integers — float-accumulated thresholds could disagree
    with a hand-written literal exactly at boundary residues (u == k/1e6
    on a cut point). The final cut is pinned to ``_GRAIN`` so assignment
    is always exhaustive regardless of float accumulation error."""
    total = float(sum(weights.values()))
    items = sorted(weights.items())
    out = []
    acc = 0.0
    for name, w in items:
        acc += float(w)
        out.append((name, int(round(acc / total * _GRAIN))))
    out[-1] = (out[-1][0], _GRAIN)
    return out


def assign_split(
    df: DataFrame,
    weights: Dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Disjoint, exhaustive train/val/test assignment: the [0,1) line is
    cut into consecutive intervals sized by the normalized weights, in
    sorted split-name order, and each row lands where its hash-uniform
    falls. Properties a corpus split needs: every row gets exactly one
    split; membership is a pure function of (salt, id) — stable across
    reruns, re-partitioning, and incremental corpus growth (old rows
    never migrate when new rows arrive). Comparison happens on the
    integer hash residue against :func:`split_thresholds` cut points —
    no float accumulation on the decision path."""
    cuts = split_thresholds(weights)
    r = F.pmod(
        h60_salted(F.col(id_col).cast("string"), F.lit(salt)), F.lit(_GRAIN)
    )
    expr = None
    for name, cut in cuts[:-1]:
        cond = r < F.lit(cut)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = cuts[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def upsample(
    df: DataFrame,
    weight: float,
    id_col: str = "doc_id",
    salt: str = "upsample",
    copy_col: str = "copy",
) -> DataFrame:
    """Deterministic fractional upsampling (mixture weights > 1 for
    scarce high-quality strata): every row appears ``floor(weight)``
    times, plus one more with probability ``frac(weight)`` decided by
    its hash-uniform. Row-local ``sequence`` + ``explode`` — the shuffle
    cost is zero; the fan-out happens at the scan. ``copy_col`` numbers
    the copies (0-based) so downstream shuffles can decorrelate them."""
    if weight < 0:
        raise ValueError("weight must be >= 0")
    base = int(weight)
    frac = float(weight) - base
    n = F.lit(base) + (
        (_unit(F.col(id_col), salt) < frac).cast("int") if frac > 0 else F.lit(0)
    )
    return (
        df.withColumn("_n", n)
        .filter(F.col("_n") > 0)
        .withColumn(copy_col, F.explode(F.sequence(F.lit(0), F.col("_n") - 1)))
        .drop("_n")
    )


def mixture_weights(
    proportions: Dict[str, float], temperature: float = 1.0
) -> Dict[str, float]:
    """Temperature-flattened source mixing (the multilingual-sampling
    rule p_i^(1/T) / Σ p_j^(1/T)): T=1 keeps natural proportions, T>1
    upweights the tail. Returns per-source sampling weights normalized
    to sum 1 — feed the result to :func:`stratified_sample` (values ≤ 1)
    or scale and feed to :func:`upsample`."""
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    powered = {k: float(v) ** (1.0 / temperature) for k, v in proportions.items()}
    z = sum(powered.values())
    return {k: v / z for k, v in powered.items()}


def shuffle_order(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "shuffle",
    epoch: int = 0,
    out_col: str = "shuffle_rank",
) -> DataFrame:
    """Reproducible global training order: every row gets a dense 0-based
    rank under the hash ordering ``(h60(salt-epoch ␁ id), id)`` — a
    deterministic permutation of the corpus that changes per epoch but is
    identical across reruns, cluster sizes, and partitionings (the
    property torch-style seeded shuffles lose the moment the data layout
    changes). Ranks come from the fully distributed range-partition rank
    (metrics._distributed_rank) — no single-partition sort; writing the
    result sorted by ``out_col`` (or bucketing on ``floor(rank/batch)``)
    materializes the epoch's batch order."""
    keyed = df.withColumn(
        "_sh", h60_salted(F.col(id_col).cast("string"), F.lit(f"{salt}-{int(epoch)}"))
    )
    from ..metrics import _distributed_rank

    ranked, _ = _distributed_rank(keyed, ["_sh", id_col], out_col)
    return ranked.drop("_sh")


def token_windows(
    df: DataFrame,
    max_tokens: int,
    stride: Optional[int] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-window packing prep: split each document's whitespace
    tokens into windows of ``max_tokens`` (optionally overlapping by
    ``max_tokens - stride``), one output row per window with
    (win_idx, win_start, n_win_tokens, window text). Pure higher-order
    functions over the split array — row-local, codegen'd, no Python,
    no shuffle; the explode fans out at the scan."""
    stride = stride or max_tokens
    if stride <= 0 or max_tokens <= 0:
        raise ValueError("max_tokens and stride must be > 0")
    toks = F.split(F.col(text_col), "\\s+")
    n = F.size(toks)
    # window starts: 0, stride, 2*stride, ... < n (empty docs get none)
    starts = F.when(
        n > 0, F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    wins = F.transform(
        starts,
        lambda s: F.struct(
            s.cast("long").alias("win_start"),
            F.array_join(F.slice(toks, s + 1, max_tokens), " ").alias("window"),
            F.least(n - s, F.lit(max_tokens)).cast("long").alias("n_win_tokens"),
        ),
    )
    return (
        df.withColumn("_wins", wins)
        .select(
            F.col(id_col),
            F.posexplode("_wins").alias("win_idx", "w"),
        )
        .select(
            id_col,
            F.col("win_idx").cast("long").alias("win_idx"),
            F.col("w.win_start").alias("win_start"),
            F.col("w.n_win_tokens").alias("n_win_tokens"),
            F.col("w.window").alias("window"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169,
# "Data Selection for Language Models via Importance Resampling"): score
# every raw document by how target-domain-like its hashed n-gram feature
# distribution is, then resample the corpus by the weights. The
# published estimator sums per-feature LOG likelihood ratios; log() is
# not bit-identical across engines (libm vs java.lang.Math), so the
# oracled form here sums the smoothed likelihood RATIOS in integer
# fixed-point — floor divisions of exact integer counts, associative
# integer sums, deterministic under any partitioning or scan order (the
# same discipline as split_thresholds / pagerank_fixed). The ranking it
# induces is a monotone-comparable domain-affinity score; callers who
# want the paper-exact log estimator pass log_ratio=True (floats,
# NOT oracle-comparable across engines).
# ---------------------------------------------------------------------------


def importance_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    scale: int = 10**4,
    log_ratio: bool = False,
) -> DataFrame:
    """Per-document domain-affinity weights against a target corpus.

    Features are whitespace tokens hashed into ``buckets`` via h60 — the
    hashed-ngram generative model of DSIR. With add-1 smoothing::

        score(b)  = ((ct[b]+1) * (Nr+B) * scale) // ((cr[b]+1) * (Nt+B))
        weight(d) = sum over d's tokens of score(bucket(token))

    Returns ``(id, n_feats, weight_fp)``; weight_fp is in units of
    1/scale, length-unnormalized (divide by n_feats downstream for a
    per-token affinity). With ``log_ratio=True`` the per-feature term is
    ``ln`` of the smoothed ratio summed as doubles — the paper's
    estimator, for production use where cross-engine bit-equality
    doesn't apply.

    Scale shape (100 TB): two token-level partial-agg groupBys build the
    feature tables (≤ ``buckets`` rows each — broadcast-sized by
    construction), the totals are 1-row lazy aggregates, and scoring is
    one broadcast join per token batch + an integer per-doc sum. The
    corpus is scanned twice (once to count, once to score) and never
    shuffled on content. Integer bounds: (ct+1)*(Nr+B)*scale must stay
    inside int64 — at web scale lower ``scale`` or bucket the counts
    per-shard (documented; asserted small-scale by the ANSI-mode
    overflow gate Spark runs under)."""
    from .hashes import h60

    def feats(df):
        return df.select(
            F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
        ).select(
            id_col, F.pmod(h60(F.col("tok")), F.lit(buckets)).alias("b")
        )

    rf = feats(raw)
    tf = feats(target)
    cr = rf.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("cr"))
    ct = tf.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("ct"))
    nr = rf.agg(F.count(F.lit(1)).cast("long").alias("nr"))
    nt = tf.agg(F.count(F.lit(1)).cast("long").alias("nt"))
    ftab = (
        cr.join(ct, "b", "left")
        .crossJoin(nr)
        .crossJoin(nt)
        .select(
            "b",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            "cr", "nr", "nt",
        )
    )
    if log_ratio:
        score = F.log(
            ((F.col("ct") + 1) * (F.col("nr") + buckets))
            / ((F.col("cr") + 1) * (F.col("nt") + buckets))
        ).alias("score")
        agg = F.sum("score").alias("weight")
    else:
        score = F.expr(
            f"((ct + 1L) * (nr + {buckets}L) * {scale}L)"
            f" div ((cr + 1L) * (nt + {buckets}L))"
        ).alias("score")
        agg = F.sum("score").cast("long").alias("weight_fp")
    scored = rf.join(F.broadcast(ftab.select("b", score)), "b")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_feats"), agg
    )


def importance_weights_sql(
    raw_table: str = "documents",
    target_where: str = "doc_id % 13 = 0",
    id_col: str = "doc_id",
    buckets: int = 4096,
    scale: int = 10**4,
) -> str:
    """DuckDB twin of :func:`importance_weights` (integer form), with the
    target corpus expressed as a predicate over the raw table."""
    from .hashes import h60_sql

    b_expr = h60_sql("tok") + f" % {buckets}"
    return f"""
WITH rf AS (SELECT {id_col}, {b_expr} AS b
            FROM (SELECT {id_col}, unnest(string_split(text, ' ')) AS tok
                  FROM {raw_table})),
tf AS (SELECT {id_col}, b FROM rf WHERE {target_where}),
cr AS (SELECT b, count(*)::BIGINT AS cr FROM rf GROUP BY b),
ct AS (SELECT b, count(*)::BIGINT AS ct FROM tf GROUP BY b),
nr AS (SELECT count(*)::BIGINT AS nr FROM rf),
nt AS (SELECT count(*)::BIGINT AS nt FROM tf),
ftab AS (SELECT cr.b,
                ((coalesce(ct.ct, 0) + 1) * (nr.nr + {buckets}) * {scale})
                // ((cr.cr + 1) * (nt.nt + {buckets})) AS score
         FROM cr LEFT JOIN ct ON ct.b = cr.b CROSS JOIN nr CROSS JOIN nt)
SELECT rf.{id_col}::BIGINT AS {id_col},
       count(*)::BIGINT AS n_feats,
       sum(ftab.score)::BIGINT AS weight_fp
FROM rf JOIN ftab ON ftab.b = rf.b
GROUP BY rf.{id_col}
"""


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionization: consecutive events of the same user
    belong to one session while the inter-event gap stays ≤
    ``gap_minutes``; a larger gap starts a new session. The classic
    two-window formulation: a per-user lag marks session starts, a
    per-user running sum numbers them. Returns one row per session:
    ``(user, session_idx, n_events, start_us, end_us, duration_us)``
    with timestamps as INTEGER epoch microseconds (cross-engine exact —
    float epoch seconds round differently per engine).

    Determinism: window order is (epoch_us, event id) — same-microsecond
    events tie-break on the id, so numbering is partition-invariant.

    Scale shape (100 TB event logs): both windows are PARTITIONED BY
    user — no global sort, no global window; the shuffle keys on the
    user id and the second window reuses the first's partitioning
    (one Exchange in the plan). Per-user data must fit a task (true for
    human-scale activity); for adversarial hot keys production splits
    the key by (user, day) first — same plan shape, documented here as
    the standard mitigation."""
    from pyspark.sql import Window

    # tz-free epoch micros: unix_micros() rejects TIMESTAMP_NTZ (the
    # parquet type here) and casting NTZ->TZ would apply the session
    # timezone — timestampdiff against the NTZ epoch matches DuckDB's
    # epoch_us(ts) on naive timestamps exactly
    tus = F.expr(
        "timestampdiff(MICROSECOND, "
        f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{ts_col}`)"
    )
    w = Window.partitionBy(user_col).orderBy("tus", id_col)
    gap_us = int(gap_minutes) * 60 * 1_000_000
    ev = events.select(F.col(user_col), F.col(id_col), tus.alias("tus"))
    flagged = ev.withColumn("prev", F.lag("tus").over(w)).withColumn(
        "ns",
        F.when(
            F.col("prev").isNull()
            | (F.col("tus") - F.col("prev") > F.lit(gap_us)),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_idx",
        F.sum("ns").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy(user_col, "session_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("tus").cast("long").alias("start_us"),
        F.max("tus").cast("long").alias("end_us"),
        (F.max("tus") - F.min("tus")).cast("long").alias("duration_us"),
    )


def group_cap(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    k: int = 50,
    salt: str = "cap",
    out_col: str = "grp_rank",
) -> DataFrame:
    """Deterministic per-group QUOTA cap: keep at most ``k`` rows per
    group, chosen by the salted-hash order (h60(salt ␁ id), id) — the
    domain-capping step of pretraining mixes (bound any single domain's
    share regardless of its crawl volume). Unlike
    :func:`stratified_sample` (per-group FRACTION), the quota is an
    absolute count, and the hash order makes the kept set rerun- and
    partitioning-stable (a torch-style random choice is neither).
    Returns the surviving rows + their 1-based ``out_col`` rank.

    Scale shape: ONE window partitioned by group (no global sort); the
    rank shuffle keys on the group — a skewed mega-domain bounds at its
    own row count and is then cut to k. For quantile-grade skew,
    pre-filter with an approximate per-group count and sample_fraction
    first; the exact window pass then runs on the bounded survivor
    set."""
    from pyspark.sql import Window

    key = h60_salted(F.col(id_col).cast("string"), F.lit(salt))
    w = Window.partitionBy(group_col).orderBy(key, F.col(id_col))
    return (
        df.withColumn(out_col, F.row_number().over(w))
        .filter(F.col(out_col) <= k)
    )


def hopping_window_rates(
    events: DataFrame,
    window_minutes: int = 30,
    hop_minutes: int = 15,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Overlapping (hopping) time-window aggregation of the event log:
    per (window start, event type) the event count and value sum, with
    window size ``window_minutes`` advancing every ``hop_minutes`` —
    the batch twin of the streaming windowed aggregation
    (streaming.stream_page_rates), kept ENGINE-EXACT by doing the
    window assignment in integer epoch-microsecond arithmetic instead
    of engine-native window functions (Spark's F.window and DuckDB's
    time_bucket draw boundaries differently around epoch offsets; the
    explicit floor math cannot disagree). Each event explodes into
    window/hop overlapping windows (a constant ≤ size/hop fan-out),
    then ONE partial-aggregatable groupBy. Value sums are ppm-quantized
    integers (determinism discipline: float sums are order-dependent)."""
    hop_us = int(hop_minutes) * 60 * 1_000_000
    n_win = int(window_minutes // hop_minutes)
    tus = F.expr(
        "timestampdiff(MICROSECOND, "
        f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{ts_col}`)"
    )
    base = events.select(
        tus.alias("_tus"),
        F.col(type_col).alias("event_type"),
        F.round(F.col(value_col) * 1_000_000).cast("long").alias("_v_ppm"),
    )
    win = base.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_win - 1)),
                lambda i: (F.floor(F.col("_tus") / hop_us) - i) * hop_us,
            )
        ).alias("win_start_us"),
        "event_type",
        "_v_ppm",
    )
    return win.groupBy("win_start_us", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("_v_ppm").cast("long").alias("value_sum_ppm"),
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "pack",
) -> DataFrame:
    """GPT-style training-sequence packing census: concatenate every
    document's whitespace tokens in the deterministic epoch order
    (:func:`shuffle_order` hash ordering) and cut the stream every
    ``seq_len`` tokens — the standard pretraining packer (documents DO
    span sequence boundaries; the EOD token between docs is the
    tokenizer's concern, not the packer's). Returns one row per
    training sequence that has at least one document STARTING in it:
    (seq_id, n_docs_started, n_tokens_started, n_crossing) where
    n_crossing counts started docs that spill into a later sequence —
    the packing-efficiency/attention-fragmentation census an LLM data
    pipeline reads before writing shards.

    Token counts are the ws_tokens formula shared with
    textstats.token_counts (oracle-proven cross-engine); offsets are a
    FULLY DISTRIBUTED prefix sum — range-repartition by the hash order
    key, per-partition running sum, plus broadcast per-partition
    offsets (the metrics._distributed_rank construction generalized
    from rank to weighted cumsum) — so the plan carries no
    SinglePartition exchange and the sequence ids are identical at any
    parallelism. Output is total_tokens/seq_len sized."""
    from pyspark.sql import Window

    if seq_len <= 0:
        raise ValueError("seq_len must be > 0")
    L = int(seq_len)
    keyed = docs.select(
        F.col(id_col),
        F.size(F.split(F.trim(F.col(text_col)), "\\s+")).cast("long").alias("_n"),
        h60_salted(F.col(id_col).cast("string"), F.lit(salt)).alias("_h"),
    )
    parts = keyed.repartitionByRange("_h", id_col).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    parts = parts.withColumn("_local", F.sum("_n").over(w))
    sizes = parts.groupBy("_pid").agg(F.sum("_n").alias("_cnt"))
    # prefix-sum over <= shuffle-partitions rows: broadcast non-equi
    # self-join, no global-orderBy window (see metrics._distributed_rank)
    offs = (
        sizes.alias("a")
        .join(F.broadcast(sizes.alias("b")), F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("b._cnt"), F.lit(0)).alias("_off"))
    )
    ends = (
        parts.join(F.broadcast(offs), "_pid")
        .withColumn("_end", (F.col("_off") + F.col("_local")).cast("long"))
        .filter(F.col("_n") > 0)
    )
    d = ends.select(
        F.expr(f"(_end - _n) div {L}L").alias("seq_id"),
        "_n",
        F.expr(
            f"CASE WHEN (_end - 1L) div {L}L > (_end - _n) div {L}L"
            " THEN 1L ELSE 0L END"
        ).alias("_x"),
    )
    return d.groupBy("seq_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_started"),
        F.sum("_n").cast("long").alias("n_tokens_started"),
        F.sum("_x").cast("long").alias("n_crossing"),
    )


def pack_sequences_sql(
    seq_len: int, table: str = "documents", salt: str = "pack"
) -> str:
    """DuckDB twin of :func:`pack_sequences` (single-node window cumsum
    stands in for the distributed prefix sum — same order key, same
    integer arithmetic)."""
    L = int(seq_len)
    h = h60_salted_sql("doc_id::VARCHAR", repr(salt))
    return f"""
WITH n AS (
  SELECT doc_id, {h} AS h,
         len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n
  FROM {table}),
c AS (
  SELECT doc_id, n,
         sum(n) OVER (ORDER BY h, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
  FROM n),
d AS (
  SELECT (e - n) // {L} AS seq_id, n,
         CASE WHEN (e - 1) // {L} > (e - n) // {L} THEN 1 ELSE 0 END AS x
  FROM c WHERE n > 0)
SELECT seq_id::BIGINT AS seq_id, count(*)::BIGINT AS n_docs_started,
       sum(n)::BIGINT AS n_tokens_started, sum(x)::BIGINT AS n_crossing
FROM d GROUP BY 1
"""


def source_mix_weights(
    docs: DataFrame,
    group_col: str = "source",
) -> DataFrame:
    """Temperature-based mixture reweighting across sources (the
    multilingual/multi-domain sampling trick — weights ∝ n^α flattens
    the head so small sources are not drowned): α = 1/2, kept
    integer-exact because ``floor(sqrt(n))`` of a signed-64 count is
    the correctly-rounded IEEE value in both engines — no float enters
    the SHARE arithmetic. Returns one row per source: (source, n_docs,
    w = floor(sqrt(n_docs)), weight_ppm = w·1e6 div Σw, upsample_ppm =
    the per-doc sampling multiplier weight_ppm·N div (n_docs·1e6)
    scaled ppm — i.e. how much each source's documents are over/under-
    sampled relative to uniform).

    Scale shape: one partial-agg count per source (source-domain-
    bounded), one broadcast total — the whole operator is
    dimension-sized."""
    cnt = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).withColumn(
        "w", F.expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)")
    )
    tot = cnt.agg(
        F.sum("w").cast("long").alias("sw"),
        F.sum("n_docs").cast("long").alias("nt"),
    )
    return cnt.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n_docs",
        "w",
        F.expr("(w * 1000000L) div sw").alias("weight_ppm"),
        F.expr("((w * 1000000L) div sw) * nt div n_docs").alias(
            "upsample_ppm"
        ),
    )
