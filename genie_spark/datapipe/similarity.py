"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline: one scan, row-local
arithmetic (zip_with/aggregate — JVM codegen, no Python), then a global
top-k (Spark's TakeOrdered — no full sort). Every approximate index has
exactly one build and one probe — the index is written once and every
query against it is partition pruning or lookups over stored columns:

- hyperplane LSH: `materialize_lsh_buckets` writes `partitionBy("bucket")`;
  `lsh_topk_pruned` reads the query's bucket (plus its hamming-1
  neighbors with ``multiprobe=1``). Plane coefficients are seeded
  literals, inlined into the DuckDB oracle too → bit-identical buckets.
- IVF: `materialize_ivf_cells` assigns each vector its nearest centroid
  (hash-seeded `ivf_centroids` or Lloyd-refined `ivf_kmeans_centroids`)
  and writes `partitionBy("cell")`; `ivf_topk_pruned` reads the n_probe
  nearest cells — per-query cost O(corpus / n_cells · n_probe).
- PQ: `materialize_pq_codes` stores m codes per vector;
  `pq_topk_from_codes` ranks by ADC and optionally re-ranks a pool by
  exact cosine. IVF-PQ (`materialize_ivf_pq` + `ivf_pq_topk_pruned`)
  composes the cell probe with the codes.

Every exact stage ends in the one `_cosine_topk` tail. The DuckDB twins
(`*_sql`) are assembled from one set of module-level fragments, so each
cosine, seed pick, assignment and ADC chain is spelled once. The
embedding pair operators (near-dup, hard negatives, the SemDeDup pairs
here) share `dedup._salted_cosine_pairs`, which compares the exact cosine
to the threshold in every engine.
"""

from __future__ import annotations

import hashlib
import math
from typing import List, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _plane_sign(seed: int, plane: int, dim: int) -> int:
    """Deterministic ±1 coefficient from md5 — reproducible anywhere."""
    h = hashlib.md5(f"{seed}:{plane}:{dim}".encode()).hexdigest()
    return 1 if int(h[:2], 16) % 2 == 0 else -1


def hyperplanes(n_planes: int, dim: int, seed: int = 42) -> List[List[int]]:
    """n_planes × dim ±1 matrix; inline these constants into both engines."""
    return [
        [_plane_sign(seed, p, d) for d in range(dim)] for p in range(n_planes)
    ]


def arr_lit(vals: Sequence[float]) -> Column:
    """array<double> literal via ONE parsed SQL expression. Building the
    same array from nested F.array(F.lit(...)) costs one py4j round-trip
    per element — ~6s of pure driver latency for a 32×16 codebook,
    measured; repr(float)+'D' round-trips every double exactly."""
    return F.expr("array(" + ",".join(f"{float(x)!r}D" for x in vals) + ")")


def arr2_lit(rows) -> Column:
    """array<array<double>> literal via one parsed SQL expression."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in r) + ")"
            for r in rows
        )
        + ")"
    )


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def brute_force_topk(
    emb: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Baseline ANN oracle: cosine against a literal query vector, global
    top-k (ties broken by id for cross-engine determinism)."""
    return _cosine_topk(emb, query, k, vec_col, id_col)


def _cosine_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int,
    vec_col: str,
    id_col: str,
    *extra: Column,
) -> DataFrame:
    """The tail every exact ANN stage ends with: ``(id, *extra, cosine)``
    with the cosine to the literal query rounded to 6dp, then the top-k
    by (cosine desc, id asc) — Spark's TakeOrderedAndProject, no global
    sort."""
    return (
        df.select(
            F.col(id_col),
            *extra,
            F.round(cosine_col(F.col(vec_col), arr_lit(query)), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def hyperplane_bucket_col(
    vec_col: Column, planes: List[List[int]]
) -> Column:
    """array<float> → int bucket: bit p set iff Σ_d vec[d]·planes[p][d] > 0.
    Row-local; the planes are literals so Catalyst constant-folds them."""
    bucket = F.lit(0).cast("long")
    for p, coeffs in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                arr_lit(coeffs),
                lambda x, c: x.cast("double") * c,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def _vec_dim(emb: DataFrame, vec_col: str, dim) -> int:
    """Resolve the embedding dimensionality. Callers should pass ``dim``
    (schema metadata or pipeline config) — the fallback probe runs one
    extra Spark job at plan-build time, which a 100-TB plan should not."""
    if dim is not None:
        return int(dim)
    return len(emb.select(vec_col).first()[0])


def query_bucket(query: Sequence[float], planes: List[List[int]]) -> int:
    qbucket = 0
    for p, coeffs in enumerate(planes):
        if sum(c * float(x) for c, x in zip(coeffs, query)) > 0:
            qbucket |= 1 << p
    return qbucket


def probe_buckets(qbucket: int, n_planes: int, multiprobe: int = 0) -> List[int]:
    """The query bucket plus, with ``multiprobe=1``, its n_planes
    hamming-1 neighbors — vectors near a hyperplane land on either side,
    so probing adjacent buckets recovers most of the recall a single-
    bucket probe loses, at (n_planes+1)/2^n_planes of the full-scan
    cost."""
    buckets = [qbucket]
    if multiprobe >= 1:
        buckets += [qbucket ^ (1 << p) for p in range(n_planes)]
    return sorted(set(buckets))


def materialize_lsh_buckets(
    emb: DataFrame,
    path: str,
    n_planes: int = 4,
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int = None,
) -> None:
    """Assign every vector its hyperplane bucket ONCE and persist
    ``partitionBy("bucket")`` — probes against the written table are
    partition pruning over 1 (or 1+n_planes multiprobe) directories out
    of 2^n_planes, not a full scan re-hashing per query."""
    planes = hyperplanes(n_planes, _vec_dim(emb, vec_col, dim), seed)
    emb.withColumn(
        "bucket", hyperplane_bucket_col(F.col(vec_col), planes)
    ).write.partitionBy("bucket").mode("overwrite").parquet(path)


def lsh_topk_pruned(
    spark,
    path: str,
    query: Sequence[float],
    k: int = 10,
    n_planes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    multiprobe: int = 0,
) -> DataFrame:
    """Probe a materialized bucket table: `bucket IN probes` on the
    partition column prunes to the probed directories; exact cosine
    inside."""
    dim = len(query)
    planes = hyperplanes(n_planes, dim, seed)
    probes = probe_buckets(query_bucket(query, planes), n_planes, multiprobe)
    bucketed = spark.read.parquet(path).filter(F.col("bucket").isin(probes))
    return _cosine_topk(
        bucketed, query, k, vec_col, id_col,
        F.col("bucket").cast("long").alias("bucket"),
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: partition the corpus by nearest centroid, probe
# only the query's cell(s). Centroids here are deterministic hash-sampled
# corpus vectors (a k-means refinement keeps the same plan shape — assign =
# argmin over centroid literals — so this is the representative scale path:
# the table is written partitioned by `cell`, and a probe prunes to
# n_probe_cells partitions).
# ---------------------------------------------------------------------------


def ivf_centroids(
    emb: DataFrame,
    n_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> List[List[float]]:
    """Deterministic centroid pick: the n_cells corpus vectors with the
    smallest md5-derived hash of their id — stable across runs/engines,
    no RNG, no iteration. Collected to the driver (n_cells × dim floats,
    tiny) and inlined as literals into both engines' assignment exprs."""
    from .hashes import h60

    rows = (
        emb.select(id_col, vec_col)
        .withColumn("_h", h60(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(n_cells)
        .collect()
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


def ivf_kmeans_centroids(
    emb: DataFrame,
    n_cells: int = 8,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> List[List[float]]:
    """Lloyd refinement of the hash-sampled seeds: each iteration assigns
    every vector to its argmax-cosine cell (same 9dp-rounded metric as
    :func:`ivf_cell_col`) and moves each centroid to the element-wise mean
    of its members, rounded to 9dp so Spark and DuckDB summation-order
    drift (~1e-13 relative) can't flip an argmax. Empty cells keep their
    previous centroid. Fixed iteration count + deterministic seeds ⇒ the
    same centroids on every engine and every run.

    Cost: n_iters scans, each one groupBy(cell) with dim partial-agg
    columns (map-side combine; the shuffle carries n_cells × partitions ×
    dim counters, independent of corpus size). The index-build is
    amortized over every query against the materialized cell table."""
    cents = ivf_centroids(emb, n_cells, vec_col, id_col)
    dim = len(cents[0])
    for _ in range(n_iters):
        cells = emb.withColumn("cell", ivf_cell_col(F.col(vec_col), cents))
        means = cells.groupBy("cell").agg(
            *[
                F.round(
                    F.avg(F.element_at(F.col(vec_col), d + 1).cast("double")), 9
                ).alias(f"m{d}")
                for d in range(dim)
            ]
        ).collect()
        by_cell = {r["cell"]: [float(r[f"m{d}"]) for d in range(dim)] for r in means}
        cents = [by_cell.get(i, cents[i]) for i in range(n_cells)]
    return cents


def _cent_cos(vec_col: Column, cent: Sequence[float]) -> Column:
    """Cosine to a centroid literal, rounded to 9dp — the rounding absorbs
    engine summation-order drift so the argmax (and the DuckDB oracle's)
    agree bit-for-bit."""
    return F.round(cosine_col(vec_col, arr_lit(cent)), 9)


def ivf_cell_col(vec_col: Column, centroids: List[List[float]]) -> Column:
    """Spherical IVF assignment: argmax cosine over centroid literals →
    cell id (cells must align with the query metric; L2 cells over
    unnormalized vectors scatter cosine-neighbors — measured recall
    collapse 2/10 vs 8+/10). The n_cells cosines are computed ONCE each
    into a single array and argmax'd via array_position(·, array_max(·)),
    instead of the chained-F.when form whose plan carried every cosine
    twice (once for cell, once for best) and nested ~2·n_cells exprs —
    the source of the multi-MiB task binaries flagged in round 1.
    array_position returns the FIRST maximum → ties break to the lower
    cell id (same semantics as the reference strict->keep-first fold)."""
    cos_arr = F.array(*[_cent_cos(vec_col, c) for c in centroids])
    return (F.array_position(cos_arr, F.array_max(cos_arr)) - 1).cast("int")


def ivf_probe_cells(
    query: Sequence[float], centroids: List[List[float]], n_probe: int = 2
) -> List[int]:
    """Driver-side (n_cells is tiny): the n_probe cell ids whose centroids
    are cosine-nearest the query, ties to the lower id — same 9dp rounding
    as the Column-side assignment."""
    def pycos(cent):
        dot = sum(float(x) * float(c) for x, c in zip(query, cent))
        nq = math.sqrt(sum(float(x) * float(x) for x in query))
        nc = math.sqrt(sum(float(c) * float(c) for c in cent))
        return round(dot / (nq * nc), 9)

    sims = [pycos(cent) for cent in centroids]
    return sorted(range(len(centroids)), key=lambda i: (-sims[i], i))[:n_probe]


def materialize_ivf_cells(
    emb: DataFrame,
    centroids: List[List[float]],
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Assign every vector its cell ONCE and persist `partitionBy("cell")`
    — the index-build step of IVF. Probes against the written table are
    partition pruning (PartitionFilters on `cell`), not a full scan that
    re-evaluates n_cells cosines per row per query. At 100 TB this is the
    difference between an O(corpus) assignment amortized over all queries
    and paying it on every single probe."""
    emb.withColumn("cell", ivf_cell_col(F.col(vec_col), centroids)).write.partitionBy(
        "cell"
    ).mode("overwrite").parquet(path)


def ivf_topk_pruned(
    spark,
    path: str,
    query: Sequence[float],
    centroids: List[List[float]],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a materialized cell table: `cell IN probe` on the partition
    column prunes to n_probe directories; exact cosine inside."""
    probe = ivf_probe_cells(query, centroids, n_probe)
    cells = spark.read.parquet(path).filter(F.col("cell").isin(probe))
    return _cosine_topk(
        cells, query, k, vec_col, id_col, F.col("cell").cast("int").alias("cell")
    )


def ivf_topk_sql(
    query: Sequence[float],
    n_cells: int = 8,
    k: int = 10,
    n_probe: int = 2,
) -> str:
    """DuckDB twin of :func:`ivf_centroids` + :func:`ivf_topk_pruned`, fully
    data-derived (the centroid pick runs in SQL with the same hash order),
    so the one static oracle string is correct at every scale factor."""
    q = _q_vec_sql(query)
    return f"""
WITH {_seed_sql("cents", "embedding AS cvec", n_cells)},
{_cells_sql("cents")},
{_probe_sql(q, "cents", n_probe)}
{_exact_topk_sql(q, k, "vec_id, cell", "cells WHERE cell IN (SELECT cid FROM probe)")}"""


def ivf_kmeans_topk_sql(
    query: Sequence[float],
    n_cells: int = 8,
    k: int = 10,
    n_probe: int = 2,
    n_iters: int = 2,
) -> str:
    """DuckDB twin of :func:`ivf_kmeans_centroids` + :func:`ivf_topk_pruned`:
    the Lloyd iterations unroll to one (assign → per-cell element-wise
    avg → coalesce-with-previous) CTE block each, fully data-derived, so
    the single static oracle string is correct at every scale factor."""
    q = _q_vec_sql(query)
    blocks = [
        _seed_sql("cents0", "list_transform(embedding, x -> x::DOUBLE) AS cvec", n_cells)
    ]
    for it in range(n_iters):
        prev, cur = f"cents{it}", f"cents{it + 1}"
        blocks.append(
            f"""{_assign_sql(f"a{it}", prev)},
dm{it} AS (
  SELECT cid AS cell, dim, round(avg(val), 9) AS m
  FROM (SELECT cid, unnest(embedding)::DOUBLE AS val,
               generate_subscripts(embedding, 1) AS dim
        FROM a{it} WHERE rnk = 1)
  GROUP BY 1, 2
),
m{it} AS (SELECT cell, list(m ORDER BY dim) AS mvec FROM dm{it} GROUP BY 1),
{cur} AS (
  SELECT c.cid, coalesce(m.mvec, c.cvec) AS cvec
  FROM {prev} c LEFT JOIN m{it} m ON c.cid = m.cell
)"""
        )
    final = f"cents{n_iters}"
    blocks.append(f"{_cells_sql(final)},\n{_probe_sql(q, final, n_probe)}")
    with_sql = ",\n".join(blocks)
    return f"""
WITH {with_sql}
{_exact_topk_sql(q, k, "vec_id, cell", "cells WHERE cell IN (SELECT cid FROM probe)")}"""


# ---------------------------------------------------------------------------
# oracle SQL builders (DuckDB twins; same literals, same rounding)
# ---------------------------------------------------------------------------


def _q_vec_sql(query: Sequence[float]) -> str:
    return "[" + ", ".join(f"{float(x)!r}" for x in query) + "]"


# DuckDB fragments the oracle builders share, each spelled exactly once:
# cosine pieces, the h60 seed pick, the IVF assign/probe, the PQ encode,
# the ADC chain and the exact top-k / re-rank tails.


def _dot_sql(a: str, b: str) -> str:
    return f"list_sum(list_transform(list_zip({a}, {b}), p -> p[1]::DOUBLE * p[2]::DOUBLE))"


def _n2_sql(a: str) -> str:
    return f"list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE))"


def _cos_sql(a: str, b: str, dp: int = None) -> str:
    """Cosine of two list expressions; rounded to ``dp`` places if given."""
    cos = f"{_dot_sql(a, b)} / (sqrt({_n2_sql(a)}) * sqrt({_n2_sql(b)}))"
    return cos if dp is None else f"round({cos}, {dp})"


def _slice_sql(expr: str, j: int, sub: int) -> str:
    """The j-th ``sub``-wide PQ subvector of a list expression."""
    return f"list_slice({expr}, {j * sub + 1}, {(j + 1) * sub})"


def _seed_sql(name: str, vec: str, n: int) -> str:
    """The n smallest-h60 corpus vectors as ``name(<vec>, cid)`` — the
    deterministic pick of :func:`ivf_centroids`."""
    from .hashes import h60_sql

    return f"""{name} AS (
  SELECT {vec},
         row_number() OVER (ORDER BY {h60_sql("vec_id::VARCHAR")}, vec_id) - 1 AS cid
  FROM embeddings
  QUALIFY cid < {n}
)"""


def _assign_sql(name: str, cents: str) -> str:
    """Rank every centroid of ``cents`` per vector by 9dp cosine (rnk = 1
    is :func:`ivf_cell_col`'s cell)."""
    return f"""{name} AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_cos_sql("e.embedding", "c.cvec", 9)} DESC, c.cid
         ) AS rnk
  FROM embeddings e CROSS JOIN {cents} c
)"""


def _cells_sql(cents: str) -> str:
    return (
        _assign_sql("assign", cents)
        + ",\ncells AS (SELECT vec_id, embedding, cid AS cell FROM assign WHERE rnk = 1)"
    )


def _probe_sql(q: str, cents: str, n_probe: int) -> str:
    """The n_probe cells nearest the query (:func:`ivf_probe_cells`)."""
    return f"""probe AS (
  SELECT cid FROM {cents}
  ORDER BY {_cos_sql(q, "cvec", 9)} DESC, cid
  LIMIT {n_probe}
)"""


def _exact_topk_sql(q: str, k: int, cols: str, frm: str) -> str:
    """Twin of :func:`_cosine_topk` over ``frm``."""
    return f"""SELECT {cols},
       round(list_sum(list_transform(list_zip(embedding, {q}),
                                     p -> p[1]::DOUBLE * p[2]::DOUBLE))
             / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform({q}, x -> x * x)))), 6) AS cosine
FROM {frm}
ORDER BY cosine DESC, vec_id ASC
LIMIT {k}
"""


def _pq_assign_sql(src: str, m: int, sub: int) -> str:
    """Per-subspace encode of ``src`` against the ``seeds`` codebooks:
    ``c{j}(vec_id, code)`` for j < m (:func:`pq_code_cols`)."""
    return ",\n".join(
        f"""a{j} AS (
  SELECT e.vec_id, s.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round({_dot_sql(_slice_sql("e.embedding", j, sub), _slice_sql("s.svec", j, sub))}
                    - 0.5 * {_n2_sql(_slice_sql("s.svec", j, sub))}, 9) DESC, s.cid
         ) AS rnk
  FROM {src} e CROSS JOIN seeds s
),
c{j} AS (SELECT vec_id, cid AS code FROM a{j} WHERE rnk = 1)"""
        for j in range(m)
    )


def _adc_select_sql(query, sub: int, books, words) -> str:
    """The fixed-order ADC chain over codes ``c0..c{m-1}``: subspace j
    looks its codeword up in table ``books[j]`` (aliased ``s{j}``) and
    reads it as ``words[j]``."""
    q = _q_vec_sql(query)
    qnorm = _py_dot(query, query) ** 0.5
    m = len(books)
    joins = " ".join(f"JOIN c{j} ON c{j}.vec_id = c0.vec_id" for j in range(1, m))
    book_joins = " ".join(
        f"JOIN {books[j]} s{j} ON s{j}.cid = c{j}.code" for j in range(m)
    )
    adc = " + ".join(
        f"round({_dot_sql(_slice_sql(q, j, sub), words[j])}, 9)" for j in range(m)
    )
    n2 = " + ".join(f"round({_n2_sql(words[j])}, 9)" for j in range(m))
    return f"""SELECT c0.vec_id,
       round(({adc}) / ({qnorm!r} * sqrt({n2})), 6) AS adc_cosine
FROM c0 {joins} {book_joins}
ORDER BY adc_cosine DESC, c0.vec_id ASC"""


def _pq_topk_sql(base: str, adc_select: str, query, k: int, rerank: int, src: str) -> str:
    """Top-k of the ADC ranking, or with ``rerank`` its pool re-ranked by
    exact cosine over the vectors in ``src`` (:func:`_pq_adc_topk`)."""
    if not rerank:
        return f"\n{base}\n{adc_select}\nLIMIT {k}\n"
    return f"""
{base},
pool AS (
  {adc_select}
  LIMIT {rerank}
)
SELECT e.vec_id, {_cos_sql("e.embedding", _q_vec_sql(query), 6)} AS cosine
FROM pool p JOIN {src} e ON e.vec_id = p.vec_id
ORDER BY cosine DESC, e.vec_id ASC
LIMIT {k}
"""


def brute_force_topk_sql(query: Sequence[float], k: int = 10) -> str:
    return "\n" + _exact_topk_sql(_q_vec_sql(query), k, "vec_id", "embeddings")


def _bucket_expr_sql(planes: List[List[int]], vec: str = "embedding") -> str:
    terms = []
    for p, coeffs in enumerate(planes):
        plane = "[" + ", ".join(f"{float(c)!r}" for c in coeffs) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(list_zip({vec}, {plane}),"
            f" p -> p[1]::DOUBLE * p[2])) > 0 THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


def lsh_topk_sql(
    query: Sequence[float],
    k: int,
    n_planes: int,
    dim: int,
    seed: int = 42,
    multiprobe: int = 0,
) -> str:
    planes = hyperplanes(n_planes, dim, seed)
    probes = probe_buckets(query_bucket(query, planes), n_planes, multiprobe)
    in_list = ", ".join(str(b) for b in probes)
    return f"""
WITH b AS (
  SELECT vec_id, embedding, ({_bucket_expr_sql(planes)})::BIGINT AS bucket FROM embeddings
)
{_exact_topk_sql(_q_vec_sql(query), k, "vec_id, bucket", f"b WHERE bucket IN ({in_list})")}"""


def embedding_neardup_lsh_sql(
    n_planes: int, dim: int, threshold: float, seed: int = 42
) -> str:
    """DuckDB twin of dedup.embedding_neardup_lsh_pairs: same hyperplane
    literals, same bucket-blocked all-pairs cosine."""
    return _lsh_pairs_sql(n_planes, dim, threshold, seed, label=False)


def _lsh_pairs_sql(
    n_planes: int, dim: int, threshold: float, seed: int, label: bool
) -> str:
    """Twin of ``dedup._lsh_cosine_pairs``; ``label`` carries the label
    column and keeps only pairs whose labels differ."""
    planes = hyperplanes(n_planes, dim, seed)
    dot = "list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))"
    lbl, lbl_cols, lbl_pred = (
        (", label", "\n       a.label AS label_a, b.label AS label_b,",
         "\n  AND a.label <> b.label")
        if label else ("", "", "")
    )
    return f"""
WITH base AS (
  SELECT vec_id{lbl},
         ({_bucket_expr_sql(planes)})::BIGINT AS bucket,
         list_transform(embedding, x -> x::DOUBLE) AS v,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS n
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,{lbl_cols}
       round({dot} / (a.n * b.n), 6) AS cosine
FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {dot} / (a.n * b.n) >= {threshold}{lbl_pred}
"""


# ---------------------------------------------------------------------------
# product quantization (ADC) — the memory-compression ANN tier
# ---------------------------------------------------------------------------


def pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    k_sub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> List[List[List[float]]]:
    """PQ codebooks: the ``k_sub`` smallest-hash corpus vectors (the same
    deterministic seed rule as :func:`ivf_centroids`) sliced into ``m``
    subspaces — codebook[j][c] is seed c's j-th subvector. Driver data:
    m × k_sub × (dim/m) floats. Production would Lloyd-refine each
    subspace codebook with the :func:`ivf_kmeans_centroids` machinery;
    the seeded form keeps the oracle compact while exercising the full
    PQ structure (encode → ADC)."""
    seeds = ivf_centroids(emb, k_sub, vec_col, id_col)
    dim = len(seeds[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [[s[j * sub:(j + 1) * sub] for s in seeds] for j in range(m)]


def _py_dot(a, b) -> float:
    # sequential left-to-right accumulation — the same order DuckDB's
    # list_sum and Spark's F.aggregate fold in, so all three engines
    # produce the identical double before the 9dp round
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def pq_code_cols(vec_col: Column, codebooks) -> List[Column]:
    """Per-subspace code assignment: argmax over codewords of
    round(dot(x_j, c) − 0.5·‖c‖², 9) — the L2 argmin in dot form (the
    ‖x_j‖² term is constant per row and drops out). First-max ties break
    to the lower code id. Entirely row-local Column math: encoding a
    10^12-vector corpus is one scan, no shuffle — the point of PQ is
    that the stored code (m small ints) replaces the dim-float vector,
    an ~(8·dim)/m-fold memory compression for the ANN serving tier."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    return [
        _sub_code_col(F.slice(vec_col, j * sub + 1, sub), codebooks[j])
        for j in range(m)
    ]


def _sub_code_col(sl: Column, book) -> Column:
    """Code for ONE subvector column against one codebook. ONE zip_with
    over (codebook, half-norms) literal arrays — not k_sub inlined
    aggregates: the expanded form put m × k_sub 16-element HOF aggregates
    in the plan (the round-1 task-binary blowup all over again; measured
    12.7s → ~1s at sf0.1)."""
    books_lit = arr2_lit(book)
    halfn_lit = arr_lit([0.5 * _py_dot(w, w) for w in book])
    scores = F.zip_with(
        books_lit, halfn_lit, lambda w, n: F.round(dot_col(sl, w) - n, 9)
    )
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def pq_kmeans_codebooks(
    emb: DataFrame,
    m: int = 4,
    k_sub: int = 16,
    n_iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Lloyd refinement of the seeded PQ codebooks, per subspace: each
    iteration assigns every subvector to its L2-argmin codeword (the same
    9dp-rounded dot − ½‖c‖² metric the encoder uses) and moves each
    codeword to the element-wise mean of its members, rounded to 9dp so
    Spark/DuckDB summation-order drift can't flip a later argmax; empty
    codes keep their previous word. Fixed iteration count + deterministic
    seeds ⇒ identical codebooks on every engine and every run. Cost:
    m × n_iters groupBy-scans at INDEX BUILD time (the shuffle carries
    k_sub × partitions × (dim/m) counters, independent of corpus size),
    amortized over every query against the materialized codes."""
    books = pq_codebooks(emb, m, k_sub, vec_col, id_col)
    sub = len(books[0][0])
    for _ in range(n_iters):
        # ALL m subspace assignments ride one scan (explode over j) into
        # one groupBy(j, c) and ONE collect — the per-subspace loop ran m
        # sequential jobs over the same corpus for k_sub×m result rows.
        # Per-(j, c) means are computed by the same F.avg over the same
        # member sets, so the refined codebooks are value-identical.
        per_j = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _sub_code_col(
                            F.slice(F.col(vec_col), j * sub + 1, sub), books[j]
                        ).alias("c"),
                        F.slice(F.col(vec_col), j * sub + 1, sub).alias("s"),
                    )
                    for j in range(m)
                ]
            )
        )
        means = (
            emb.select(per_j.alias("e"))
            .select("e.j", "e.c", "e.s")
            .groupBy("j", "c")
            .agg(
                *[
                    F.round(
                        F.avg(F.element_at(F.col("s"), d + 1).cast("double")), 9
                    ).alias(f"m{d}")
                    for d in range(sub)
                ]
            )
            .collect()
        )
        by_jc = {
            (r["j"], r["c"]): [float(r[f"m{d}"]) for d in range(sub)]
            for r in means
        }
        books = [
            [by_jc.get((j, i), books[j][i]) for i in range(k_sub)]
            for j in range(m)
        ]
    return books


def materialize_pq_codes(
    emb: DataFrame,
    codebooks,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Encode once, serve forever: write (id, vector, c0..c{m-1}) to
    ``path``. Production stores the codes WITHOUT the vector (the whole
    point of PQ is that the serving tier holds m small ints per item) and
    fetches full vectors from the primary store only for the re-rank
    pool; the vector is co-located here because the sandbox has no
    separate vector store. Row-local encode — one scan, no shuffle."""
    codes = pq_code_cols(F.col(vec_col), codebooks)
    emb.select(
        F.col(id_col),
        F.col(vec_col),
        *[c.alias(f"c{j}") for j, c in enumerate(codes)],
    ).write.mode("overwrite").parquet(path)


def pq_topk_from_codes(
    spark,
    path: str,
    query: Sequence[float],
    codebooks,
    k: int = 10,
    rerank: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k against a
    :func:`materialize_pq_codes` table: the query is NOT quantized; each
    stored row contributes Σ_j dot(q_j, codeword_{j,c_j}), looked up from
    the m × k_sub table computed once driver-side and inlined as
    literals. The approximate cosine divides by the PQ norm
    √(Σ_j ‖codeword‖²). Both sums are explicit fixed-order + chains (not
    aggregates), so Spark and the DuckDB twin add in the same order. The
    corpus encode is paid once at index build; the per-query plan is
    row-local lookups + TakeOrderedAndProject — no shuffle, no global
    sort."""
    return _pq_adc_topk(
        spark.read.parquet(path), query, codebooks, k, rerank, vec_col, id_col
    )


def _pq_adc_topk(
    with_codes: DataFrame,
    query: Sequence[float],
    codebooks,
    k: int,
    rerank: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """ADC scoring over a frame carrying the stored codes ``c0..c{m-1}``
    (see :func:`pq_topk_from_codes`), optionally re-ranked exactly."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    q = [float(x) for x in query]
    qnorm = _py_dot(q, q) ** 0.5
    adc = None
    n2 = None
    for j in range(m):
        qj = q[j * sub:(j + 1) * sub]
        t_lit = arr_lit([round(_py_dot(qj, w), 9) for w in codebooks[j]])
        n_lit = arr_lit([round(_py_dot(w, w), 9) for w in codebooks[j]])
        tj = F.element_at(t_lit, F.col(f"c{j}") + 1)
        nj = F.element_at(n_lit, F.col(f"c{j}") + 1)
        adc = tj if adc is None else adc + tj
        n2 = nj if n2 is None else n2 + nj
    scored = with_codes.select(
        F.col(id_col),
        F.col(vec_col),
        F.round(adc / (F.lit(qnorm) * F.sqrt(n2)), 6).alias("adc_cosine"),
    )
    if rerank:
        # two-stage serving: the ADC lookup prunes to a small pool, exact
        # cosine re-ranks the pool ONLY — the standard production PQ
        # shape (quantization error stays out of the final ordering; the
        # full-precision vectors are read for `rerank` rows, not the
        # corpus)
        pool = scored.orderBy(
            F.desc("adc_cosine"), F.asc(id_col)
        ).limit(rerank)
        return _cosine_topk(pool, q, k, vec_col, id_col)
    return scored.select(id_col, "adc_cosine").orderBy(
        F.desc("adc_cosine"), F.asc(id_col)
    ).limit(k)


# ---------------------------------------------------------------------------
# IVF-PQ composition — the actual web-scale ANN serving shape: a coarse
# IVF cell probe prunes the corpus to n_probe partitions, ADC over stored
# PQ codes ranks the survivors from m small ints each, and exact cosine
# re-ranks only the candidate pool. At 10^12 vectors this is the only
# tier whose serving cost AND memory both stay sublinear: partition
# pruning bounds I/O, codes bound memory, re-rank bounds quantization
# error.
# ---------------------------------------------------------------------------


def materialize_ivf_pq(
    emb: DataFrame,
    centroids: List[List[float]],
    codebooks,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Build the composed index ONCE: every vector gets its coarse IVF
    cell (argmax-cosine over centroid literals) and its m PQ codes in
    the same row-local scan, written ``partitionBy("cell")`` — probes
    prune to cell directories and read codes, never the full corpus.
    (The full vector is co-located for the re-rank stage; production
    would store it in the primary store only.)"""
    codes = pq_code_cols(F.col(vec_col), codebooks)
    emb.select(
        F.col(id_col),
        F.col(vec_col),
        ivf_cell_col(F.col(vec_col), centroids).alias("cell"),
        *[c.alias(f"c{j}") for j, c in enumerate(codes)],
    ).write.partitionBy("cell").mode("overwrite").parquet(path)


def ivf_pq_topk_pruned(
    spark,
    path: str,
    query: Sequence[float],
    centroids: List[List[float]],
    codebooks,
    k: int = 10,
    n_probe: int = 2,
    rerank: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a :func:`materialize_ivf_pq` index: `cell IN probe` is
    partition pruning (PartitionFilters — asserted in test_plans), ADC
    ranks the pruned rows from their stored codes, exact cosine re-ranks
    the pool only."""
    probe = ivf_probe_cells(query, centroids, n_probe)
    pruned = spark.read.parquet(path).filter(F.col("cell").isin(probe))
    return _pq_adc_topk(pruned, query, codebooks, k, rerank, vec_col, id_col)


def ivf_pq_topk_sql(
    query: Sequence[float],
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 4,
    k_sub: int = 16,
    dim: int = 64,
    k: int = 10,
    rerank: int = 0,
) -> str:
    """DuckDB twin of :func:`ivf_pq_topk_pruned`: the IVF assignment/probe CTEs
    (same as :func:`ivf_topk_sql`), PQ encode restricted to the probed
    survivors (encoding is row-local, so codes are identical to a full-
    corpus encode), the fixed-order ADC chain, and the exact re-rank —
    fully data-derived, correct at every scale factor."""
    head = f"""{_seed_sql("cents", "embedding AS cvec", n_cells)},
{_assign_sql("cassign", "cents")},
{_probe_sql(_q_vec_sql(query), "cents", n_probe)},
surv AS (
  SELECT vec_id, embedding FROM cassign
  WHERE rnk = 1 AND cid IN (SELECT cid FROM probe)
),
"""
    return _pq_seeded_sql(head, "surv", query, m, dim // m, k_sub, k, rerank)


def _pq_seeded_sql(head, src, query, m, sub, k_sub, k, rerank) -> str:
    """Seeded-codebook PQ over the vectors in ``src``: the seed pick, the
    per-subspace encode, the ADC chain and the optional re-rank, after
    the CTEs in ``head``."""
    base = f"""WITH {head}{_seed_sql("seeds", "list_transform(embedding, x -> x::DOUBLE) AS svec", k_sub)},
{_pq_assign_sql(src, m, sub)}"""
    adc = _adc_select_sql(
        query, sub, ["seeds"] * m, [_slice_sql(f"s{j}.svec", j, sub) for j in range(m)]
    )
    return _pq_topk_sql(base, adc, query, k, rerank, src)


def pq_topk_sql(
    query: Sequence[float],
    m: int = 4,
    k_sub: int = 16,
    dim: int = 64,
    k: int = 10,
    rerank: int = 0,
) -> str:
    """DuckDB twin of :func:`pq_codebooks` + :func:`pq_code_cols` +
    :func:`pq_topk_from_codes`, fully data-derived (seed pick, per-subspace argmax
    encode, 4-term fixed-order ADC chain), so the one static oracle
    string is correct at every scale factor."""
    return _pq_seeded_sql("", "embeddings", query, m, dim // m, k_sub, k, rerank)


def pq_kmeans_topk_sql(
    query: Sequence[float],
    m: int = 4,
    k_sub: int = 16,
    dim: int = 64,
    k: int = 10,
    n_iters: int = 1,
) -> str:
    """DuckDB twin of :func:`pq_kmeans_codebooks` + encode + ADC: the
    per-subspace Lloyd iterations unroll to one (assign → per-dim avg →
    coalesce-with-previous) CTE block each, fully data-derived — the
    same unrolling recipe as :func:`ivf_kmeans_topk_sql`, sliced per
    subspace."""
    sub = dim // m
    blocks = [
        _seed_sql("seeds", "list_transform(embedding, x -> x::DOUBLE) AS svec", k_sub)
    ]
    for j in range(m):
        esl = _slice_sql("e.embedding", j, sub)
        rank = f"round({_dot_sql(esl, 'b.bvec')} - 0.5 * {_n2_sql('b.bvec')}, 9)"
        blocks.append(
            f"sb{j}i0 AS (SELECT cid, {_slice_sql('svec', j, sub)} AS bvec FROM seeds)"
        )
        for it in range(n_iters):
            prev, cur = f"sb{j}i{it}", f"sb{j}i{it + 1}"
            blocks.append(
                f"""a{j}x{it} AS (
  SELECT e.vec_id, {esl} AS sv, b.cid,
         row_number() OVER (
           PARTITION BY e.vec_id ORDER BY {rank} DESC, b.cid
         ) AS rnk
  FROM embeddings e CROSS JOIN {prev} b
),
dm{j}x{it} AS (
  SELECT cid AS code, dim, round(avg(val), 9) AS mval
  FROM (SELECT cid, unnest(sv)::DOUBLE AS val,
               generate_subscripts(sv, 1) AS dim
        FROM a{j}x{it} WHERE rnk = 1)
  GROUP BY 1, 2
),
mm{j}x{it} AS (SELECT code, list(mval ORDER BY dim) AS bvec FROM dm{j}x{it} GROUP BY 1),
{cur} AS (
  SELECT p.cid, coalesce(mm.bvec, p.bvec) AS bvec
  FROM {prev} p LEFT JOIN mm{j}x{it} mm ON p.cid = mm.code
)"""
            )
        blocks.append(
            f"""fa{j} AS (
  SELECT e.vec_id, b.cid,
         row_number() OVER (
           PARTITION BY e.vec_id ORDER BY {rank} DESC, b.cid
         ) AS rnk
  FROM embeddings e CROSS JOIN sb{j}i{n_iters} b
),
c{j} AS (SELECT vec_id, cid AS code FROM fa{j} WHERE rnk = 1)"""
        )
    adc = _adc_select_sql(
        query, sub, [f"sb{j}i{n_iters}" for j in range(m)], [f"s{j}.bvec" for j in range(m)]
    )
    return _pq_topk_sql("WITH " + ",\n".join(blocks), adc, query, k, 0, "")


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
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Vectors that SURVIVE semantic dedup: assign each vector its
    cluster (argmax cosine over the centroid literals, ties to the lower
    cell — :func:`ivf_cell_col`), generate within-cluster pairs via the
    blocked self-join (:func:`~genie_spark.datapipe.dedup.
    embedding_neardup_pairs`), and drop every vector that has a
    cosine-≥-threshold neighbor with a smaller id. Keep-lowest-id is the
    deterministic stand-in for the paper's keep-one-per-group policy —
    it needs no extra pass over the pair set and both engines agree on
    it bit-for-bit. Returns ``(id, cell)``."""
    from .dedup import _block_salt, embedding_neardup_pairs, spread_for_compute

    # cell assignment is n_cells × dim interpreted HOF ops per row —
    # compute-bound, so spread the single-split embeddings scan
    cells = spread_for_compute(emb).select(
        F.col(id_col),
        F.col(vec_col),
        ivf_cell_col(F.col(vec_col), centroids).alias("cell"),
    )
    pairs = embedding_neardup_pairs(
        cells, vec_col, id_col, block_col="cell", threshold=threshold,
        salt=_block_salt(emb, len(centroids)),
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return cells.join(dropped, id_col, "left_anti").select(id_col, "cell")


def semantic_dedup_sql(
    n_cells: int = 8,
    threshold: float = 0.95,
) -> str:
    """DuckDB twin of :func:`semantic_dedup_survivors` — data-derived
    hash-seeded centroids (same pick as :func:`ivf_topk_sql`), the same
    9dp-rounded argmax assignment, within-cell pairs whose exact cosine
    reaches the threshold, and the keep-lowest-id anti-join."""
    return f"""
WITH {_seed_sql("cents", "embedding AS cvec", n_cells)},
{_cells_sql("cents")},
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_cos_sql("a.embedding", "b.embedding")} >= {threshold}
)
SELECT c.vec_id, c.cell FROM cells c
ANTI JOIN dropped d ON d.vec_id = c.vec_id
"""


def lsh_recall_eval(
    emb: DataFrame,
    n_planes: int = 4,
    dim: int = 64,
    k: int = 10,
    query_mod: int = 97,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of the hyperplane-LSH probe against exact brute force,
    measured over a hash-drawn query panel (ids ≡ 0 mod ``query_mod``)
    drawn from the corpus itself — the accuracy accounting every
    approximate index owes its users (the recall/cost curve is THE
    ANN tuning artifact; see e.g. Johnson et al., faiss, 2017). Per
    query: ground truth = global top-k by (cosine, id); approximate =
    top-k restricted to the query's own bucket; returns
    ``(qid, n_hits, recall_ppm)`` in integer ppm.

    Scale shape: ground truth is a query-panel × corpus join (panel is
    a broadcast; per-row math is JVM zip_with/aggregate), the approx
    side joins on the BUCKET key, and both top-ks are
    query-partitioned windows — no global sort; the recall join moves
    k rows per query."""
    from pyspark.sql import Window

    planes = hyperplanes(n_planes, dim, seed)
    q = (
        emb.filter(F.col(id_col) % query_mod == 0)
        .select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qemb"),
        )
        .withColumn("qb", hyperplane_bucket_col(F.col("qemb"), planes))
    )
    e = emb.select(
        F.col(id_col),
        F.col(vec_col),
        hyperplane_bucket_col(F.col(vec_col), planes).alias("eb"),
    )
    cos = F.round(cosine_col(F.col(vec_col), F.col("qemb")), 6)
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc(id_col))

    def topk(pairs):
        return (
            pairs.select("qid", F.col(id_col), cos.alias("cosine"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select("qid", id_col)
        )

    gt = topk(
        F.broadcast(q).crossJoin(e).filter(F.col(id_col) != F.col("qid"))
    )
    ap = topk(
        q.join(e, q.qb == e.eb).filter(F.col(id_col) != F.col("qid"))
    )
    hits = gt.join(ap, ["qid", id_col]).groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    return (
        q.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.expr(f"(coalesce(n_hits, 0L) * 1000000L) div {k}L")
            .cast("long")
            .alias("recall_ppm"),
        )
    )


def lsh_recall_eval_sql(
    n_planes: int = 4,
    dim: int = 64,
    k: int = 10,
    query_mod: int = 97,
    seed: int = 42,
) -> str:
    """DuckDB twin of :func:`lsh_recall_eval` — same plane literals,
    same (round(cosine,6), id) ordering, same integer-ppm recall."""
    planes = hyperplanes(n_planes, dim, seed)
    b_e = _bucket_expr_sql(planes, "embedding")
    b_q = _bucket_expr_sql(planes, "qemb")
    cos = _cos_sql("embedding", "qemb", 6)
    return f"""
WITH re_q AS (
  SELECT vec_id AS qid, embedding AS qemb, {b_q.replace("embedding", "qemb")} AS qb
  FROM (SELECT vec_id, embedding, embedding AS qemb FROM embeddings
        WHERE vec_id % {query_mod} = 0)),
re_e AS (SELECT vec_id, embedding, {b_e} AS eb FROM embeddings),
re_gt AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {cos} DESC, e.vec_id ASC) AS rn
    FROM re_q q CROSS JOIN re_e e WHERE e.vec_id <> q.qid)
  WHERE rn <= {k}),
re_ap AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {cos} DESC, e.vec_id ASC) AS rn
    FROM re_q q JOIN re_e e ON q.qb = e.eb WHERE e.vec_id <> q.qid)
  WHERE rn <= {k}),
re_hit AS (
  SELECT g.qid, count(*)::BIGINT AS n_hits
  FROM re_gt g JOIN re_ap a ON g.qid = a.qid AND g.vec_id = a.vec_id
  GROUP BY 1)
SELECT q.qid, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       (coalesce(h.n_hits, 0) * 1000000 // {k})::BIGINT AS recall_ppm
FROM re_q q LEFT JOIN re_hit h ON q.qid = h.qid
"""


def hard_negatives_lsh_sql(
    n_planes: int, dim: int, threshold: float, seed: int = 42
) -> str:
    """DuckDB twin of dedup.hard_negative_pairs: the
    embedding_neardup_lsh chain plus the label-inequality predicate."""
    return _lsh_pairs_sql(n_planes, dim, threshold, seed, label=True)
