"""KILT-style evaluation-table operators: filters F1, F2, F4, F5 and F7
(the relations-keep filter F3 has no caller here).

The reference applies these at dataset-load time in Python
(reference: genie/datamodule/datasets.py:92-201). Here they are pure
Column expressions — Catalyst pushes the cheap ones into the scan and
prunes columns automatically; the array-valued ones use higher-order
functions (exists / forall / filter) so nothing leaves the JVM.

Table convention (FIXTURES.md §3): one row per sample with
``id, url, input, target, surface_triples: array<struct<s,r,o>>,
id_triples, triple_match_status: array<string>,
instance_matching_status: string``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .triples import format_triples_col


def filter_matching_status(
    df: DataFrame, allowed: Sequence[str] = ("title",)
) -> DataFrame:
    """F1 (datasets.py:157-169): keep samples whose instance matching
    status is in the allowed set ({'title'} or {'title','label'})."""
    return df.filter(F.col("instance_matching_status").isin(list(allowed)))


def filter_relations_drop(df: DataFrame, drop: Sequence[str]) -> DataFrame:
    """F2 (datasets.py:171-185): drop the whole sample if ANY triple's
    relation is in the drop set."""
    drop_arr = F.array(*[F.lit(r) for r in drop])
    return df.filter(
        ~F.exists(F.col("surface_triples"), lambda t: F.array_contains(drop_arr, t["r"]))
    )


def drop_ignored_relations(df: DataFrame, ignore: Sequence[str]) -> DataFrame:
    """F4+F5+re-linearize (datasets.py:106-123, 263-267): remove individual
    triples whose relation is ignored, re-format the target string, and
    drop samples whose triple set became empty."""
    ignore_arr = F.array(*[F.lit(r) for r in ignore])
    kept = F.filter(
        F.col("surface_triples"), lambda t: ~F.array_contains(ignore_arr, t["r"])
    )
    return (
        df.withColumn("surface_triples", kept)
        .filter(F.size(F.col("surface_triples")) > 0)
        .withColumn("target", format_triples_col(F.col("surface_triples")))
    )


def filter_triples_on_relations(
    triples: Column, rels: Sequence[str]
) -> Column:
    """F7 (evaluation.py:29-30): restrict a triple-set column to a relation
    subset — used by the metric groupings."""
    rel_arr = F.array(*[F.lit(r) for r in rels])
    return F.filter(triples, lambda t: F.array_contains(rel_arr, t["r"]))
