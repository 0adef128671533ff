"""Evaluation-layer runner: the reference's get_metrics / evaluator
configs as one DataFrame call.

Mirrors genie/utils/evaluation.py:33-56 (get_metrics: each requested
metric, optionally bootstrapped with the reference's multinomial
resampling, get_bootstrap_score :12-26) and genie/utils/evaluators.py:20-63
/ 65-140 (MicroMetricsEvaluator / MacroMetricsEvaluator), replacing the
per-sample Python loops with the metric aggregations from
:mod:`genie_spark.metrics`. The per-dataset configuration shapes of
configs/evaluation/results_full.yaml map directly:
``num_bootstrap_samples`` is the evaluator field; the recall-only FewRel
block (:76-80) is ``metrics.micro_metrics(recall_only=True)``. The
reference's relation restriction (evaluation.py:29-36) is
``kilt.filter_triples_on_relations`` applied to both columns before the
call.

Every score comes from one per-relation counts aggregation
(``metrics._eval_counts``; micro is the sum of its rows), so an
unbootstrapped :func:`evaluate_dataset` is ONE action — micro and
target-relation macro read from the single row of
:func:`metrics.micro_macro_metrics` — and its input (in a pipeline: the
extracted-output scan, its groupBy and the join with the gold pages) is
executed once, not once per metric. The bootstrapped micro scores take
one more action.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame

from .metrics import bootstrap_micro_multinomial, micro_macro_metrics

_METRICS = ("precision", "recall", "f1")


def evaluate_dataset(
    df: DataFrame,
    num_bootstrap_samples: Optional[int] = None,
) -> Dict[str, Dict[str, object]]:
    """One results_full.yaml dataset block: {"micro": {metric: score},
    "macro": {metric: score}}, keyed like the reference's evaluator
    names. Macro averages the relations with ≥1 target occurrence
    (MacroMetricsEvaluator, evaluators.py:84-87). When bootstrapped, each
    micro score is (mean, std) of the reference's multinomial resampling
    (evaluation.py:44-50, :func:`metrics.bootstrap_micro_multinomial`)."""
    row = micro_macro_metrics(df, target_relations_only=True).first()
    out = {
        "micro": {m: float(row[m]) for m in _METRICS},
        "macro": {m: float(row[f"macro_{m}"]) for m in _METRICS},
    }
    if num_bootstrap_samples is not None:
        boot = {
            r["metric"]: (float(r["mean"]), float(r["std"]))
            for r in bootstrap_micro_multinomial(
                df, n_runs=num_bootstrap_samples).collect()
        }
        out["micro"] = {m: boot[m] for m in _METRICS}
    return out
