"""Embedding-similarity building blocks for the curation operators over
array<float> columns.

Cosine arithmetic is row-local (zip_with/aggregate — JVM codegen, no
Python). Two blocking keys bound the quadratic pair term of the
embedding pair operators:

- hyperplane LSH: `hyperplane_bucket_col` maps a vector to the sign
  pattern of its dot products with seeded ±1 planes. Near-dup
  self-joins within a bucket. The plane coefficients are literals,
  inlined into the DuckDB twin too → bit-identical buckets.
- IVF cells: `ivf_cell_col` assigns each vector its cosine-nearest
  hash-seeded centroid (`ivf_centroids`); SemDeDup
  (`semantic_dedup_survivors`) compares pairs only within a cell.

The DuckDB twins (`*_sql`) inline the same plane and centroid literals
and the same rounding. The pair operators share `dedup._salted_cosine_pairs`, which compares the
exact cosine to the threshold in every engine.
"""

from __future__ import annotations

import hashlib
from typing import List, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# The vector width of the ``embeddings`` table.
EMB_DIM = 64

# SemDeDup's cosine bar: a vector with a neighbour at least this close
# and a smaller id in its cell is dropped.
SEMDEDUP_T = 0.3


def _plane_sign(plane: int, dim: int) -> int:
    """Deterministic ±1 coefficient from md5 (seed 42) — reproducible
    anywhere."""
    h = hashlib.md5(f"42:{plane}:{dim}".encode()).hexdigest()
    return 1 if int(h[:2], 16) % 2 == 0 else -1


def hyperplanes() -> List[List[int]]:
    """4 × ``EMB_DIM`` ±1 matrix; inline these constants into both
    engines."""
    return [[_plane_sign(p, d) for d in range(EMB_DIM)] for p in range(4)]


def arr_lit(vals: Sequence[float]) -> Column:
    """array<double> literal via ONE parsed SQL expression. Building the
    same array from nested F.array(F.lit(...)) costs one py4j round-trip
    per element — ~6s of pure driver latency for a 32×16 literal,
    measured; repr(float)+'D' round-trips every double exactly."""
    return F.expr("array(" + ",".join(f"{float(x)!r}D" for x in vals) + ")")


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def hyperplane_bucket_col(planes: List[List[int]]) -> Column:
    """The ``embedding`` column → int bucket: bit p set iff
    Σ_d embedding[d]·planes[p][d] > 0. Row-local; the planes are
    literals so Catalyst constant-folds them."""
    bucket = F.lit(0).cast("long")
    for p, coeffs in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                arr_lit(coeffs),
                lambda x, c: x.cast("double") * c,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


# ---------------------------------------------------------------------------
# IVF cells: each vector's cell is its cosine-nearest centroid. Centroids
# are deterministic hash-sampled corpus vectors, inlined as literals, so
# the assignment is row-local and engine-exact.
# ---------------------------------------------------------------------------


def ivf_centroids(emb: DataFrame, n_cells: int = 8) -> List[List[float]]:
    """Deterministic centroid pick: the n_cells corpus vectors with the
    smallest md5-derived hash of their id — stable across runs/engines,
    no RNG, no iteration. Collected to the driver (n_cells × dim floats,
    tiny) and inlined as literals into both engines' assignment exprs."""
    from .hashes import h60

    rows = (
        emb.select("vec_id", "embedding")
        .withColumn("_h", h60(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(n_cells)
        .collect()
    )
    return [[float(x) for x in r["embedding"]] for r in rows]


def _cent_cos(cent: Sequence[float]) -> Column:
    """Cosine of the ``embedding`` column to a centroid literal, rounded
    to 9dp — the rounding absorbs engine summation-order drift so the
    argmax (and the DuckDB oracle's) agree bit-for-bit."""
    v, c = F.col("embedding"), arr_lit(cent)
    return F.round(dot_col(v, c) / (norm_col(v) * norm_col(c)), 9)


def ivf_cell_col(centroids: List[List[float]]) -> Column:
    """Spherical IVF assignment of the ``embedding`` column: argmax
    cosine over centroid literals → cell id (cells must align with the
    query metric; L2 cells over unnormalized vectors scatter
    cosine-neighbors — measured recall
    collapse 2/10 vs 8+/10). The n_cells cosines are computed ONCE each
    into a single array and argmax'd via array_position(·, array_max(·)),
    instead of the chained-F.when form whose plan carried every cosine
    twice (once for cell, once for best) and nested ~2·n_cells exprs —
    the source of the multi-MiB task binaries flagged in round 1.
    array_position returns the FIRST maximum → ties break to the lower
    cell id (same semantics as the reference strict->keep-first fold)."""
    cos_arr = F.array(*[_cent_cos(c) for c in centroids])
    return (F.array_position(cos_arr, F.array_max(cos_arr)) - 1).cast("int")


# ---------------------------------------------------------------------------
# oracle SQL builders (DuckDB twins; same literals, same rounding)
# ---------------------------------------------------------------------------


def _dot_sql(a: str, b: str) -> str:
    return f"list_sum(list_transform(list_zip({a}, {b}), p -> p[1]::DOUBLE * p[2]::DOUBLE))"


def _n2_sql(a: str) -> str:
    return f"list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE))"


def _cos_sql(a: str, b: str, dp: int = None) -> str:
    """Cosine of two list expressions; rounded to ``dp`` places if given."""
    cos = f"{_dot_sql(a, b)} / (sqrt({_n2_sql(a)}) * sqrt({_n2_sql(b)}))"
    return cos if dp is None else f"round({cos}, {dp})"


def _bucket_expr_sql(planes: List[List[int]]) -> str:
    terms = []
    for p, coeffs in enumerate(planes):
        plane = "[" + ", ".join(f"{float(c)!r}" for c in coeffs) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(list_zip(embedding, {plane}),"
            f" p -> p[1]::DOUBLE * p[2])) > 0 THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


def embedding_neardup_lsh_sql() -> str:
    """DuckDB twin of dedup.embedding_neardup_lsh_pairs at the registry's
    4 planes over ``EMB_DIM`` and cosine 0.3: same hyperplane literals,
    same bucket-blocked all-pairs cosine."""
    planes = hyperplanes()
    dot = "list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))"
    return f"""
WITH base AS (
  SELECT vec_id,
         ({_bucket_expr_sql(planes)})::BIGINT AS bucket,
         list_transform(embedding, x -> x::DOUBLE) AS v,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS n
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({dot} / (a.n * b.n), 6) AS cosine
FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {dot} / (a.n * b.n) >= 0.3
"""


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023 — arXiv:2303.09540): cluster
# the embedding space, then drop near-identical vectors WITHIN each
# cluster. The cluster assignment bounds the quadratic pair term — at
# 10^10 documents the all-pairs comparison only ever runs inside one
# cell, so k is chosen to keep cells at a comparable-pairs size, and the
# per-cell work is an ordinary shuffle-keyed self-join, not a cartesian
# product over the corpus.
# ---------------------------------------------------------------------------


def semantic_dedup_survivors(
    emb: DataFrame,
    centroids: List[List[float]],
) -> DataFrame:
    """Vectors that SURVIVE semantic dedup: assign each vector its
    cluster (argmax cosine over the centroid literals, ties to the lower
    cell — :func:`ivf_cell_col`), generate within-cluster pairs via the
    blocked self-join (:func:`~genie_spark.datapipe.dedup.
    embedding_neardup_pairs`), and drop every vector that has a
    cosine-≥-threshold neighbor with a smaller id. Keep-lowest-id is the
    deterministic stand-in for the paper's keep-one-per-group policy —
    it needs no extra pass over the pair set and both engines agree on
    it bit-for-bit. The threshold is ``SEMDEDUP_T``. Returns
    ``(id, cell)``."""
    from .dedup import _block_salt, embedding_neardup_pairs, spread_for_compute

    # cell assignment is n_cells × dim interpreted HOF ops per row —
    # compute-bound, so spread the single-split embeddings scan
    cells = spread_for_compute(emb).select(
        F.col("vec_id"),
        F.col("embedding"),
        ivf_cell_col(centroids).alias("cell"),
    )
    pairs = embedding_neardup_pairs(
        cells, block_col="cell", threshold=SEMDEDUP_T,
        salt=_block_salt(emb, len(centroids)),
    )
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return cells.join(dropped, "vec_id", "left_anti").select("vec_id", "cell")


def semantic_dedup_sql(n_cells: int = 8) -> str:
    """DuckDB twin of :func:`semantic_dedup_survivors` — data-derived
    hash-seeded centroids (same pick as :func:`ivf_centroids`), the same
    9dp-rounded argmax assignment, within-cell pairs whose exact cosine
    reaches the threshold, and the keep-lowest-id anti-join."""
    from .hashes import h60_sql

    return f"""
WITH cents AS (
  SELECT embedding AS cvec,
         row_number() OVER (ORDER BY {h60_sql("vec_id::VARCHAR")}, vec_id) - 1 AS cid
  FROM embeddings
  QUALIFY cid < {n_cells}
),
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_cos_sql("e.embedding", "c.cvec", 9)} DESC, c.cid
         ) AS rnk
  FROM embeddings e CROSS JOIN cents c
),
cells AS (SELECT vec_id, embedding, cid AS cell FROM assign WHERE rnk = 1),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_cos_sql("a.embedding", "b.embedding")} >= {SEMDEDUP_T}
)
SELECT c.vec_id, c.cell FROM cells c
ANTI JOIN dropped d ON d.vec_id = c.vec_id
"""
