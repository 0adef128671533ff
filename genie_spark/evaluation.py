"""Evaluation-layer runner: the reference's get_metrics / evaluator
configs as composable DataFrame calls.

Mirrors genie/utils/evaluation.py:33-56 (get_metrics: optional relation
restriction applied to BOTH sides, then each requested metric, optionally
bootstrapped with the reference's multinomial resampling,
get_bootstrap_score :12-26) and genie/utils/evaluators.py:20-63 / 65-140
(MicroMetricsEvaluator / MacroMetricsEvaluator), replacing the per-sample
Python loops with the metric aggregations from :mod:`genie_spark.metrics`.
The per-dataset configuration shapes of configs/evaluation/results_full.yaml
map directly: ``num_bootstrap_samples`` is the evaluator field; the
recall-only FewRel block (:76-80) is ``metrics.micro_metrics(recall_only=True)``.

Every score comes from one counts aggregation
(``metrics._eval_counts``: per-relation rows plus one micro marker row),
so an unbootstrapped :func:`evaluate_dataset` is ONE action — micro and
target-relation macro read from the single row of
:func:`metrics.micro_macro_metrics` — and its input (in a pipeline: the
extracted-output scan, its groupBy and the join with the gold pages) is
executed once, not once per metric. The bootstrapped micro path keeps
its own action.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence, Tuple

from pyspark.sql import DataFrame

from .kilt import filter_triples_on_relations
from .metrics import (
    bootstrap_micro_multinomial,
    macro_metrics,
    micro_macro_metrics,
    micro_metrics,
    per_relation_metrics,
)

_METRICS = ("precision", "recall", "f1")


def _restrict(df: DataFrame, rels: Sequence[str]) -> DataFrame:
    """F7 on both sides (evaluation.py:29-30,34-36)."""
    return df.withColumn(
        "pred", filter_triples_on_relations(df["pred"], rels)
    ).withColumn("target", filter_triples_on_relations(df["target"], rels))


def evaluate_micro(
    df: DataFrame,
    relations_to_consider: Optional[Sequence[str]] = None,
    num_bootstrap_samples: Optional[int] = None,
) -> Dict[str, object]:
    """get_metrics for the micro evaluator: returns
    {metric: score} — or {metric: (mean, std)} when bootstrapped
    (evaluation.py:44-50) by the reference's multinomial resampling
    (:func:`metrics.bootstrap_micro_multinomial`)."""
    if relations_to_consider is not None:
        df = _restrict(df, list(relations_to_consider))
    if num_bootstrap_samples is None:
        row = micro_metrics(df).first()
        return {m: float(row[m]) for m in _METRICS}
    rows = {
        r["metric"]: (float(r["mean"]), float(r["std"]))
        for r in bootstrap_micro_multinomial(
            df, n_runs=num_bootstrap_samples).collect()
    }
    return {m: rows[m] for m in _METRICS}


def evaluate_macro(df: DataFrame) -> Tuple[Dict[str, float], DataFrame]:
    """MacroMetricsEvaluator (evaluators.py:65-140): per-relation micro
    scores over relations with ≥1 target occurrence, macro-averaged.
    Returns ({metric: macro score}, per-relation DataFrame) — the
    reference's (macro_scores, group_name2metrics) pair."""
    row = macro_metrics(df, target_relations_only=True).first()
    macro = {m: float(row[f"macro_{m}"]) for m in _METRICS}
    per_rel = per_relation_metrics(df).filter("n_target > 0")
    return macro, per_rel


def evaluate_dataset(
    df: DataFrame,
    num_bootstrap_samples: Optional[int] = None,
) -> Dict[str, object]:
    """One results_full.yaml dataset block: micro (optionally
    bootstrapped) + macro, keyed like the reference's evaluator names.
    Unbootstrapped, both come from one action over ``df``."""
    if num_bootstrap_samples is None:
        row = micro_macro_metrics(df, target_relations_only=True).first()
        return {
            "micro": {m: float(row[m]) for m in _METRICS},
            "macro": {m: float(row[f"macro_{m}"]) for m in _METRICS},
        }
    return {
        "micro": evaluate_micro(df, num_bootstrap_samples=num_bootstrap_samples),
        "macro": evaluate_macro(df)[0],
    }
