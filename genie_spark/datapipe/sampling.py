"""Deterministic sampling / splitting / ordering for training-data curation.

LLM data pipelines need reproducible subsetting at corpus scale:
train/val/test splits that never leak across reruns and per-source
sampling rates ("mix 2 parts web to 1 part books"). Spark's built-in
``df.sample`` is seed-dependent on partitioning (a repartitioned rerun
samples DIFFERENT rows), so every operator here derives its randomness
from a content hash of the row's id — row-local Column expressions, no
RNG, no shuffle, identical at any parallelism and re-expressible in
DuckDB for the oracle gate.

The uniform for row i under salt s is ``h60(s ␁ i) mod 1e6 / 1e6`` — the
same h60 primitive the dedup/bootstrap operators use (hashes.py).
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashes import h60_salted, h60_salted_sql

_GRAIN = 1_000_000


def _unit() -> Column:
    """Deterministic uniform in [0, 1) at 1e-6 grain from (salt "strata",
    ``doc_id``)."""
    return F.pmod(
        h60_salted(F.col("doc_id").cast("string"), F.lit("strata")), F.lit(_GRAIN)
    ) / float(_GRAIN)


def unit_sql() -> str:
    """DuckDB twin of :func:`_unit` over ``doc_id``."""
    return f"(({h60_salted_sql('doc_id', repr('strata'))}) % {_GRAIN}) / {_GRAIN}.0"


def residue_sql(id_expr: str, salt: str) -> str:
    """DuckDB twin of the INTEGER hash residue (``h60 % _GRAIN``) that
    :func:`assign_split` compares against :func:`split_thresholds` cut
    points — integer-exact on both engines, no float boundary cases."""
    return f"(({h60_salted_sql(id_expr, repr(salt))}) % {_GRAIN})"


def stratified_sample(
    df: DataFrame,
    fractions: Dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-language sampling rates: ``fractions[lang]`` of each ``lang``
    stratum survives, unlisted strata get ``default_fraction``. One
    row-local CASE over the hash-uniform — the idiomatic replacement for
    ``sampleBy`` (whose output depends on partition layout)."""
    frac = F.lit(float(default_fraction))
    for k, v in sorted(fractions.items()):
        frac = F.when(F.col("lang") == k, F.lit(float(v))).otherwise(frac)
    return df.filter(_unit() < frac)


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
    return df.withColumn("split", expr)


def shuffle_order(df: DataFrame, epoch: int = 0) -> DataFrame:
    """Reproducible global training order: every row gets a dense 0-based
    ``shuffle_rank`` under the hash ordering
    ``(h60(shuffle-epoch ␁ id), id)`` — a
    deterministic permutation of the corpus that changes per epoch but is
    identical across reruns, cluster sizes, and partitionings (the
    property torch-style seeded shuffles lose the moment the data layout
    changes). Ranks come from the fully distributed range-partition rank
    (metrics._distributed_rank) — no single-partition sort; writing the
    result sorted by ``shuffle_rank`` (or bucketing on ``floor(rank/batch)``)
    materializes the epoch's batch order."""
    keyed = df.withColumn(
        "_sh", h60_salted(F.col("doc_id").cast("string"), F.lit(f"shuffle-{int(epoch)}"))
    )
    from ..metrics import _distributed_rank

    ranked, _ = _distributed_rank(keyed, ["_sh", "doc_id"], "shuffle_rank")
    return ranked.drop("_sh")


def group_cap(df: DataFrame) -> DataFrame:
    """Deterministic per-``source`` QUOTA cap: keep at most 50 rows per
    source, chosen by the salted-hash order (h60('cap' ␁ id), id) — the
    domain-capping step of pretraining mixes (bound any single domain's
    share regardless of its crawl volume). Unlike
    :func:`stratified_sample` (per-group FRACTION), the quota is an
    absolute count, and the hash order makes the kept set rerun- and
    partitioning-stable (a torch-style random choice is neither).
    Returns the surviving rows + their 1-based ``grp_rank``.

    Scale shape: ONE window partitioned by group (no global sort); the
    rank shuffle keys on the group — a skewed mega-domain bounds at its
    own row count and is then cut to 50. For quantile-grade skew,
    pre-filter with an approximate per-group count and
    :func:`stratified_sample` first; the exact window pass then runs on
    the bounded survivor set."""
    from pyspark.sql import Window

    key = h60_salted(F.col("doc_id").cast("string"), F.lit("cap"))
    w = Window.partitionBy("source").orderBy(key, F.col("doc_id"))
    return (
        df.withColumn("grp_rank", F.row_number().over(w))
        .filter(F.col("grp_rank") <= 50)
    )
