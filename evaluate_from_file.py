#!/usr/bin/env python
"""Evaluate an existing run output file — the reference's
``evaluate_from_file`` entry point (genie/evaluate_from_file.py:19-100)
as a flat CLI over the DataFrame evaluation layer.

Reads a reference-format ``testing_output.json`` (or any JSONL with
id/input/prediction/target linearizations — sources.read_testing_output
tolerates both key spellings), optionally restricts both sides to a
relation set (the relation-world files of §2, one JSON string per line),
runs the micro evaluator (optionally bootstrapped) and the macro
evaluator, prints the reference's ``name, score`` / ``mean +- std``
lines, and writes ``{micro,macro}_results.json`` under --output-dir —
the same artifacts the reference run leaves behind.

Two more evaluators switch on from extra inputs, mirroring the
reference's full evaluator roster (genie/evaluate_from_file.py:90-174):

* ``--train-split`` (KILT or testing-output jsonl) enables the Bucket
  evaluator — the train split is rescanned for relation occurrence
  counts (the reference re-instantiates the train datamodule for this),
  per-relation scores aggregate into floor(log2(count)) buckets, and
  ``bucket_results.json`` carries the per-bucket metrics plus the
  reference's ``val_relations_per_bucket`` / ``val_triples_per_bucket``
  companions. Plot rendering (plot_helpers.py) is presentation, not
  computed here.
* ``--zs-relations`` (JSON: {group: [relation, ...]}) enables the
  zero-shot group evaluator (MicroMetricsZSEvaluator) and writes
  ``zs_results.json``; relations missing from every group score under
  'seen'.

    python evaluate_from_file.py --input testing_output.json \
        --output-dir /tmp/eval --bootstrap 50 [--relations rels.jsonl] \
        [--train-split train.jsonl] [--zs-relations zs_groups.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="testing_output.json path")
    ap.add_argument("--output-dir", required=True)
    ap.add_argument("--relations", help="relation-set jsonl (one name per line)")
    ap.add_argument("--bootstrap", type=int, default=None,
                    help="bootstrap resamples for micro CIs (reference: 50)")
    ap.add_argument("--train-split",
                    help="train-split jsonl (KILT or testing-output format); "
                    "enables the Bucket evaluator")
    ap.add_argument("--zs-relations",
                    help="JSON file {group: [relation, ...]}; enables the "
                    "zero-shot group evaluator")
    ap.add_argument("--no-plots", action="store_true",
                    help="skip the SVG bucket figures (rendered by default "
                    "when --train-split enables the Bucket evaluator)")
    ap.add_argument("--cpus", type=int, default=0,
                    help="local[<n>] master; 0 = use the active/spark-submit master")
    args = ap.parse_args(argv)

    b = SparkSession.builder.appName("genie-spark-evaluate-from-file")
    if args.cpus:
        b = b.master(f"local[{args.cpus}]").config(
            "spark.sql.shuffle.partitions", str(max(2 * args.cpus, 16))
        )
    spark = b.config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from genie_spark.evaluation import evaluate_dataset
    from genie_spark.metrics import per_relation_metrics
    from genie_spark.sources import read_relation_set, read_testing_output

    df = read_testing_output(spark, args.input)
    if args.relations:
        # the reference restricts BOTH sides (evaluation.py:29-30,34-36)
        from genie_spark.kilt import filter_triples_on_relations

        rels = sorted(read_relation_set(spark, args.relations))
        df = df.withColumn(
            "pred", filter_triples_on_relations(df["pred"], rels)
        ).withColumn("target", filter_triples_on_relations(df["target"], rels))

    results = evaluate_dataset(df, num_bootstrap_samples=args.bootstrap)
    per_rel = per_relation_metrics(df).filter("n_target > 0")

    os.makedirs(args.output_dir, exist_ok=True)
    for name, scores in results.items():
        for metric, score in scores.items():
            line = (
                f"{score[0]:.3f} +- {score[1]:.3f}"
                if isinstance(score, tuple)
                else f"{score:.3f}"
            )
            print(f"{name}-{metric}, {line}")
        with open(
            os.path.join(args.output_dir, f"{name}_results.json"), "w",
            encoding="utf-8",
        ) as f:
            json.dump(scores, f, indent=4)
    per_rel.toPandas().to_json(
        os.path.join(args.output_dir, "macro_per_relation.json"),
        orient="records", indent=2,
    )

    _METRIC_NAMES = ("precision", "recall", "f1")
    if args.train_split:
        from genie_spark.metrics import bucket_metrics, relation_occurrences

        # the train-split rescan the reference does through its
        # datamodule (evaluate_from_file.py:90-119) — here one scan +
        # one count aggregation; both KILT and testing-output shapes
        # expose the parsed target triples through read_testing_output
        train = read_testing_output(spark, args.train_split)
        counts = relation_occurrences(train)
        brows = sorted(
            bucket_metrics(df, counts).collect(), key=lambda r: r["bucket"]
        )
        bucket_obj: dict = {
            m: {str(r["bucket"]): float(r[m]) for r in brows}
            for m in _METRIC_NAMES
        }
        # the reference's companion counts in the same results file
        bucket_obj["val_relations_per_bucket"] = {
            str(r["bucket"]): int(r["n_relations"]) for r in brows
        }
        bucket_obj["val_triples_per_bucket"] = {
            str(r["bucket"]): int(r["n_target"]) for r in brows
        }
        for r in brows:
            for m in _METRIC_NAMES:
                print(f"bucket-b{r['bucket']}-{m}, {float(r[m]):.3f}")
        with open(
            os.path.join(args.output_dir, "bucket_results.json"), "w",
            encoding="utf-8",
        ) as f:
            json.dump(bucket_obj, f, indent=4, sort_keys=True)
        results["bucket"] = bucket_obj
        if not args.no_plots:
            # the reference renders bar+line bucket figures per metric
            # (evaluate_from_file.py:133-170); here as dependency-free
            # SVG from the same numbers (genie_spark/plots.py)
            from genie_spark.plots import render_bucket_plots

            results["bucket_plots"] = render_bucket_plots(
                bucket_obj, args.output_dir
            )

    if args.zs_relations:
        from genie_spark.metrics import zero_shot_metrics

        with open(args.zs_relations, encoding="utf-8") as f:
            groups = json.load(f)
        rel_groups = spark.createDataFrame(
            [(rel, g) for g, rl in groups.items() for rel in rl],
            ["rel", "group"],
        )
        zrows = sorted(
            zero_shot_metrics(df, rel_groups).collect(),
            key=lambda r: r["group"],
        )
        zs_obj = {
            r["group"]: {
                **{m: float(r[m]) for m in _METRIC_NAMES},
                "n_target": int(r["n_target"]),
            }
            for r in zrows
        }
        for r in zrows:
            for m in _METRIC_NAMES:
                print(f"zs-{r['group']}-{m}, {float(r[m]):.3f}")
        with open(
            os.path.join(args.output_dir, "zs_results.json"), "w",
            encoding="utf-8",
        ) as f:
            json.dump(zs_obj, f, indent=4, sort_keys=True)
        results["zs"] = zs_obj

    return results


if __name__ == "__main__":
    main()
