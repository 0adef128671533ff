"""Triple-set evaluation metrics as DataFrame aggregations.

The reference implements micro P/R/F1 as three torchmetrics counters
all-reduced over DDP ranks (reference: genie/metrics/triplet_set_f1.py,
triplet_set_precision.py, triplet_set_recall.py) and the macro / bucket /
zero-shot evaluators as Python loops over the full prediction list
(genie/utils/evaluators.py:20-263). In Spark every one of these is a
groupBy + sum — partial aggregation, shuffle of a handful of counters,
final merge — i.e. the metric computation is O(rows/cores) with a
few-KB shuffle regardless of dataset size.

Input convention: an eval DataFrame with one row per sample and two
array<struct<s,r,o>> columns (``pred`` and ``target``). Triple sets
compare as structs, the reference's tuple sets: per sample,
``array_distinct`` + ``array_intersect`` over the struct arrays — no
join, no shuffle — and the micro counts are the sum of the per-relation
counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .datapipe.hashes import affine_mix, h60


# A sample's triple sets as SQL over its ``pred`` and ``target`` columns
# (reference triplet_set_f1.py:14-20): distinct struct arrays and their
# intersection. Struct equality treats two NULL fields as equal, as Python
# tuple equality does. The metrics below build their expressions as SQL
# text: a higher-order-function lambda built through the Column API costs
# dozens of py4j round trips, parsed SQL costs one.
_PRED = "array_distinct(pred)"
_TARGET = "array_distinct(target)"
_BOTH = f"array_intersect({_PRED}, {_TARGET})"


def _counts(df: DataFrame) -> DataFrame:
    """Per-sample n_correct / n_pred / n_target (reference
    triplet_set_f1.py:14-20), the form the bootstrap resamples."""
    return df.selectExpr(
        "*", f"size({_BOTH}) AS n_correct", f"size({_PRED}) AS n_pred",
        f"size({_TARGET}) AS n_target",
    )


def _prf(correct: str, pred: str, target: str):
    """SQL precision, recall and F1 over three count columns, with the
    zero-division semantics of the reference (triplet_set_recall.py:48-52,
    triplet_set_precision.py / triplet_set_f1.py compute): an empty
    denominator yields 0.0, and F1 is 0.0 when P+R == 0."""
    precision = f"CASE WHEN {pred} = 0 THEN 0.0D ELSE {correct} / {pred} END"
    recall = f"CASE WHEN {target} = 0 THEN 0.0D ELSE {correct} / {target} END"
    f1 = (
        f"CASE WHEN ({precision}) + ({recall}) = 0 THEN 0.0D"
        f" ELSE ({precision}) * 2 * ({recall}) / (({precision}) + ({recall})) END"
    )
    return precision, recall, f1


# the three scores as select items over the per-relation count columns
_SCORES = tuple(
    f"{e} AS {name}"
    for e, name in zip(_prf("n_correct", "n_pred", "n_target"), ("precision", "recall", "f1"))
)

_COUNT_COLS = ("n_correct", "n_pred", "n_target")


def _eval_counts(df: DataFrame) -> DataFrame:
    """The one counts aggregation every triple-set metric reads: one row
    (rel, n_correct, n_pred, n_target) per relation appearing on either
    side of some sample — the per-relation micro counts (reference
    MacroMetricsEvaluator, evaluators.py:65-147).

    Each distinct struct has exactly one ``r`` and ``groupBy`` puts the
    NULL relations in one group, so the rows partition every sample's
    sets: the micro counts are their sum. Shape: per row, one tagged
    (rel, c, np, nt) contribution per distinct triple of the
    intersection, the pred set and the target set, then a SINGLE
    inline + groupBy. Map-side partial agg means the shuffle carries
    |distinct rels| × partitions counter rows, independent of data size.
    A sample whose ``pred`` or ``target`` is NULL rather than an empty
    array emits nothing."""

    def tagged(arr: str, c: int, np_: int, nt: int) -> str:
        return (
            f"transform({arr}, x -> named_struct("
            f"'rel', x.r, 'c', {c}, 'np', {np_}, 'nt', {nt}))"
        )

    contrib = df.selectExpr(
        "inline(concat("
        f"{tagged(_BOTH, 1, 0, 0)}, {tagged(_PRED, 0, 1, 0)}, {tagged(_TARGET, 0, 0, 1)}"
        "))"
    )
    return contrib.groupBy("rel").agg(
        F.sum("c").alias("n_correct"),
        F.sum("np").alias("n_pred"),
        F.sum("nt").alias("n_target"),
    )


def micro_macro_metrics(df: DataFrame, target_relations_only: bool) -> DataFrame:
    """Micro and macro scores in ONE aggregation over
    :func:`_eval_counts`: one row (precision, recall, f1, n_correct,
    n_pred, n_target, macro_precision, macro_recall, macro_f1,
    n_relations). :func:`micro_metrics` and :func:`macro_metrics` are
    selects over this row, and ``evaluation.evaluate_dataset`` reads
    both halves from one action.

    The micro half sums every relation's counts (0 when no sample holds
    a triple); the macro half averages the per-relation scores over the
    averaging set — relations with ≥1 TARGET occurrence when
    ``target_relations_only`` (reference
    MacroMetricsEvaluator, evaluators.py:84-87: all_relations =
    unq_target_rels, so a hallucinated pred-only relation does not add a
    zero-F1 group to the mean), else relations appearing on either side
    (stricter, and the semantics the round-1 oracles pinned)."""
    averaged = "n_target > 0" if target_relations_only else "true"
    p, r, f1 = _prf("n_correct", "n_pred", "n_target")
    tot = _eval_counts(df).selectExpr(
        *[f"coalesce(sum({c}), 0) AS {c}" for c in _COUNT_COLS],
        f"avg(CASE WHEN {averaged} THEN {p} END) AS macro_precision",
        f"avg(CASE WHEN {averaged} THEN {r} END) AS macro_recall",
        f"avg(CASE WHEN {averaged} THEN {f1} END) AS macro_f1",
        f"count(CASE WHEN {averaged} THEN 1 END) AS n_relations",
    )
    return tot.selectExpr(
        *_SCORES, *_COUNT_COLS,
        "macro_precision", "macro_recall", "macro_f1", "n_relations",
    )


def micro_metrics(df: DataFrame, recall_only: bool = False) -> DataFrame:
    """A1 — global micro precision / recall / F1: one row
    (precision, recall, f1, n_correct, n_pred, n_target), selected from
    :func:`micro_macro_metrics`.

    ``recall_only`` is the FewRel evaluation mode (reference
    configs/evaluation/results_full.yaml:76-80): FewRel annotates exactly
    one gold triple per sample, so extra predicted facts cannot be judged
    — precision and F1 are suppressed and only (recall, n_correct,
    n_target) is reported."""
    scores = micro_macro_metrics(df, target_relations_only=False)
    if recall_only:
        return scores.select("recall", "n_correct", "n_target")
    return scores.select("precision", "recall", "f1", *_COUNT_COLS)


def macro_metrics(
    df: DataFrame,
    target_relations_only: bool = False,
) -> DataFrame:
    """A2 — per-relation micro scores + unweighted macro mean
    (evaluation.py:67-78). Returns one row: (macro_precision,
    macro_recall, macro_f1, n_relations), selected from
    :func:`micro_macro_metrics`.

    ``target_relations_only`` selects the reference's averaging set (see
    :func:`micro_macro_metrics`); the default (False) averages over
    relations appearing on either side."""
    return micro_macro_metrics(df, target_relations_only).select(
        "macro_precision", "macro_recall", "macro_f1", "n_relations"
    )


def per_relation_metrics(df: DataFrame) -> DataFrame:
    """Per-relation micro P/R/F1 table (the rows A2 averages)."""
    return _eval_counts(df).selectExpr("rel", *_SCORES, *_COUNT_COLS)


def bucket_metrics(df: DataFrame, train_rel_counts: DataFrame) -> DataFrame:
    """A3 — micro metrics per log2-bucket of each relation's train-set
    occurrence count (reference BucketEvaluator, evaluators.py:153-203;
    bucket id = floor(log2(count)), plot_helpers.py:50-56). Relations
    absent from training fall in bucket -1.

    ``train_rel_counts``: DataFrame(rel, count) — typically
    ``train.select(explode(...)).groupBy(rel).count()`` (A6).
    """
    per_rel = _eval_counts(df)
    buckets = train_rel_counts.select(
        F.col("rel"),
        F.floor(F.log2(F.col("count"))).cast("long").alias("bucket"),
    )
    joined = per_rel.join(F.broadcast(buckets), "rel", "left").fillna(
        {"bucket": -1}
    )
    agg = joined.groupBy("bucket").agg(
        F.sum("n_correct").alias("n_correct"),
        F.sum("n_pred").alias("n_pred"),
        F.sum("n_target").alias("n_target"),
        F.count("*").alias("n_relations"),
    )
    return agg.selectExpr("bucket", *_SCORES, "n_relations", *_COUNT_COLS)


def zero_shot_metrics(df: DataFrame, rel_groups: DataFrame) -> DataFrame:
    """A4 — micro metrics per relation group (reference
    MicroMetricsZSEvaluator, evaluators.py:206-263: groups like
    dropped / ignored / seen). ``rel_groups``: DataFrame(rel, group);
    relations missing from the mapping score under group 'seen'."""
    per_rel = _eval_counts(df)
    joined = per_rel.join(F.broadcast(rel_groups), "rel", "left").fillna(
        {"group": "seen"}
    )
    agg = joined.groupBy("group").agg(
        F.sum("n_correct").alias("n_correct"),
        F.sum("n_pred").alias("n_pred"),
        F.sum("n_target").alias("n_target"),
    )
    return agg.selectExpr("`group`", *_SCORES, *_COUNT_COLS)


def _distributed_rank(df: DataFrame, id_col, out_col: str = "j"):
    """Global 0-based rank by ``id_col`` with NO single-partition sort and
    no driver-side action: range-repartition by id (disjoint, ordered key
    ranges across partitions), rank locally within each range, then add
    per-partition offsets via a broadcast join over the tiny
    partition-size table. The final rank equals the global sorted rank
    regardless of where the (sampled) range boundaries fall, so the result
    is parallelism-invariant for unique ids. Returns (ranked_df,
    total_df) where total_df is a broadcastable 1-row (_n bigint) frame
    derived from the same tiny partition-size table (no second scan of
    the input subtree). ``id_col`` may be a single column name or a list
    (composite ordering key — must be unique per row for a well-defined
    rank)."""
    from pyspark.sql import Window

    cols = [id_col] if isinstance(id_col, str) else list(id_col)
    parts = df.repartitionByRange(*[F.col(c) for c in cols]).withColumn(
        "_pid", F.spark_partition_id()
    )
    parts = parts.withColumn(
        "_local", F.row_number().over(Window.partitionBy("_pid").orderBy(*cols))
    )
    sizes = parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    # prefix-sum over ≤ shuffle-partitions rows: a broadcast non-equi
    # self-join instead of a global-orderBy window, so the plan carries no
    # SinglePartition exchange anywhere
    offs = (
        sizes.alias("a")
        .join(F.broadcast(sizes.alias("b")), F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("b._cnt"), F.lit(0)).alias("_off"))
    )
    ranked = (
        parts.join(F.broadcast(offs), "_pid")
        .withColumn(out_col, (F.col("_off") + F.col("_local") - 1).cast("long"))
        .drop("_pid", "_local", "_off")
    )
    total = sizes.agg(F.sum("_cnt").cast("long").alias("_n"))
    return ranked, total


def bootstrap_micro_multinomial(
    df: DataFrame,
    n_runs: int = 50,
) -> DataFrame:
    """A5 — the reference's bootstrap estimator
    (get_bootstrap_score, evaluation.py:12-26): each run resamples exactly
    n datapoints WITH replacement (`random.choices(range(n), k=n)` ⇒ a
    multinomial weight vector summing to n), scores micro P/R/F1 per run,
    and reports mean + SAMPLE std (torch.Tensor.std is Bessel-corrected).

    Deterministic seeding without a Python RNG: draw j of run r picks
    sample index affine_mix(h60(j), r) mod n — one md5 per SAMPLE plus
    cheap per-run arithmetic (not one md5 per draw), parallelism-invariant
    and DuckDB-reproducible, replacing the reference's seeded Mersenne
    Twister. Sample indexing is the fully distributed
    :func:`_distributed_rank` (range partition + local rank + broadcast
    offsets — no global sort, no driver action), and n reaches the modulo
    as a broadcast 1-row scalar, so the whole query is one Spark plan that
    scales past eval-table inputs."""
    counts = _counts(df).select(
        "id", "n_correct", "n_pred", "n_target"
    )
    # NOTE: the plan references this frame several times (rank, partition
    # sizes, total, broadcast join side). .persist() was tried and
    # measured SLOWER end-to-end (10.4s vs 6.3s min-of-N at sf0.1):
    # AQE's runtime exchange reuse already deduplicates the heavy
    # subtrees, so the cache only added build + memory-store overhead.
    indexed, total = _distributed_rank(counts, "id")
    # the draw fan-out below is compute-bound (one md5 per sample + the
    # affine remix per draw, then an n×n_runs-row partial agg); spread it
    # to the core count — AQE coalesces the byte-light rank output to a
    # few partitions otherwise. 8-byte rows, so the shuffle is a sliver.
    src = indexed.select("j").repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    # base hash BEFORE the run fan-out: one md5 per sample, then only the
    # cheap salt-keyed remix per (sample, run) draw
    src = src.withColumn("_h", h60(F.col("j").cast("string")))
    h = affine_mix(F.col("_h"), F.col("run"))
    draws = src.withColumn(
        "run", F.explode(F.sequence(F.lit(0), F.lit(n_runs - 1)))
    ).crossJoin(F.broadcast(total))
    picks = draws.select("run", F.pmod(h, F.col("_n")).alias("pick"))
    w = picks.groupBy("run", "pick").agg(F.count("*").alias("wt"))
    # counts is eval-table-sized (one row per sample) — broadcast it so
    # the n_runs × n draw-weight side never shuffles for the join
    weighted = w.join(F.broadcast(indexed), w["pick"] == indexed["j"])
    per_run = weighted.groupBy("run").agg(
        F.sum(F.col("n_correct") * F.col("wt")).alias("c"),
        F.sum(F.col("n_pred") * F.col("wt")).alias("p"),
        F.sum(F.col("n_target") * F.col("wt")).alias("t"),
    )
    p, r, f1 = _prf("c", "p", "t")
    scored = per_run.selectExpr(f"{p} AS precision", f"{r} AS recall", f"{f1} AS f1")
    stats = scored.agg(
        F.avg("precision").alias("ap"), F.stddev_samp("precision").alias("sp"),
        F.avg("recall").alias("ar"), F.stddev_samp("recall").alias("sr"),
        F.avg("f1").alias("af"), F.stddev_samp("f1").alias("sf"),
    )
    return stats.select(
        F.expr(
            "stack(3, 'precision', ap, sp, 'recall', ar, sr, 'f1', af, sf)"
            " as (metric, mean, std)"
        )
    )


def relation_occurrences(df: DataFrame) -> DataFrame:
    """A6 — relation occurrence counts over the ``target`` triples
    (reference KiltDataset.get_rel_occurrence_stats, datasets.py:78-90)."""
    return (
        df.select(F.explode(F.col("target")).alias("t"))
        .select(F.col("t.r").alias("rel"))
        .groupBy("rel")
        .count()
    )


def relation_coverage(df: DataFrame) -> DataFrame:
    """A8 — distinct target relations never predicted (reference
    evaluators.py:31-37): left-anti join of distinct sets."""
    trg = df.select(F.explode(F.col("target")).alias("t")).select(
        F.col("t.r").alias("rel")
    ).distinct()
    prd = df.select(F.explode(F.col("pred")).alias("t")).select(
        F.col("t.r").alias("rel")
    ).distinct()
    return trg.join(prd, "rel", "left_anti")


# --- multiclass classifier evaluation ---------------------------------------

def confusion_matrix(df: DataFrame) -> DataFrame:
    """Multiclass confusion census ``(true_cls, pred_cls, n)`` of the
    true ``lang`` against the predicted ``lang_guess`` — ONE partial-agg
    groupBy bounded by the class-domain square, never the row count."""
    return df.groupBy(
        F.col("lang").alias("true_cls"), F.col("lang_guess").alias("pred_cls")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


def classification_report(df: DataFrame) -> DataFrame:
    """Per-class precision/recall/F1 of :func:`confusion_matrix` in
    integer ppm, keyed on the TRUE
    class domain: (cls, n_true, n_pred, tp, precision_ppm, recall_ppm,
    f1_ppm). F1 folds exactly to ``2·tp / (n_true + n_pred)`` so it
    stays a single integer division — no float harmonic mean. All
    inputs come from the confusion census, so every join here is
    class-domain-sized (broadcast) regardless of corpus size."""
    cm = confusion_matrix(df)
    tt = cm.groupBy(F.col("true_cls").alias("cls")).agg(
        F.sum("n").cast("long").alias("n_true")
    )
    pp = cm.groupBy(F.col("pred_cls").alias("cls")).agg(
        F.sum("n").cast("long").alias("n_pred")
    )
    tp = cm.filter(F.col("true_cls") == F.col("pred_cls")).select(
        F.col("true_cls").alias("cls"), F.col("n").alias("tp")
    )
    z = F.lit(0).cast("long")
    return (
        tt.join(F.broadcast(pp), "cls", "left")
        .join(F.broadcast(tp), "cls", "left")
        .select(
            "cls",
            "n_true",
            F.coalesce("n_pred", z).alias("n_pred"),
            F.coalesce("tp", z).alias("tp"),
        )
        .select(
            "cls",
            "n_true",
            "n_pred",
            "tp",
            F.expr(
                "CASE WHEN n_pred = 0 THEN 0L"
                " ELSE (tp * 1000000L) div n_pred END"
            ).alias("precision_ppm"),
            F.expr("(tp * 1000000L) div n_true").alias("recall_ppm"),
            F.expr(
                "(2L * tp * 1000000L) div (n_true + n_pred)"
            ).alias("f1_ppm"),
        )
    )


def cohen_kappa(df: DataFrame) -> DataFrame:
    """Cohen's kappa of :func:`confusion_matrix` (inter-annotator /
    classifier-vs-gold chance-corrected agreement) as ONE row: (n, agree, po_ppm, pe_ppm,
    kappa_ppm). Integer-exact via the cleared form
    ``kappa = (agree·N − Σ t_k·p_k) / (N² − Σ t_k·p_k)``, scaled as
    ``(num · 1e6) div den``: the counts stay signed-64 (N² fits to
    N ≈ 3e9 rows) and only the scaled numerator widens to DECIMAL(38,0)
    (HUGEINT in the DuckDB twin), so the quotient is exact at every N —
    dividing the denominator by 1e6 first instead truncates it to 0
    below N = 1000. Everything derives from the class-domain-sized
    confusion census."""
    cm = confusion_matrix(df)
    tt = cm.groupBy(F.col("true_cls").alias("cls")).agg(
        F.sum("n").cast("long").alias("n_true")
    )
    pp = cm.groupBy(F.col("pred_cls").alias("cls")).agg(
        F.sum("n").cast("long").alias("n_pred")
    )
    s = (
        tt.join(pp, "cls", "full_outer")
        .select(
            (
                F.coalesce("n_true", F.lit(0).cast("long"))
                * F.coalesce("n_pred", F.lit(0).cast("long"))
            ).alias("txp")
        )
        .agg(F.sum("txp").cast("long").alias("s"))
    )
    tot = cm.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum(
            F.when(F.col("true_cls") == F.col("pred_cls"), F.col("n"))
            .otherwise(F.lit(0))
        ).cast("long").alias("agree"),
    )
    return tot.crossJoin(F.broadcast(s)).select(
        "n",
        "agree",
        F.expr("(agree * 1000000L) div n").alias("po_ppm"),
        F.expr(
            "CAST(s AS DECIMAL(38,0)) * 1000000 div greatest(n * n, 1L)"
        ).alias("pe_ppm"),
        F.expr(
            "CAST(agree * n - s AS DECIMAL(38,0)) * 1000000"
            " div greatest(n * n - s, 1L)"
        ).alias("kappa_ppm"),
    )
