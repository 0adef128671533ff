"""Deterministic data sketches — the approximate-query tier.

At 100 TB the exact forms of three everyday questions are state- or
shuffle-bound: "how many distinct X" is a count-distinct shuffle over
every distinct value, "which keys are hot" is a full-key groupBy, and
"is this n-gram in the held-out eval set" broadcasts the raw eval-gram
strings. The three classic sketches here bound that state:

* :func:`minhash_distinct_sketch` — stochastic-averaging min-hash
  distinct estimator (the KMV / Flajolet-Martin family): ONE
  partial-aggregated groupBy down to ``buckets`` rows, duplication-
  insensitive by construction (min absorbs repeats), mergeable across
  partitions/days by taking per-bucket mins.
* :func:`cms_sketch` / :func:`cms_estimate` — count-min sketch
  (Cormode & Muthukrishnan 2005): frequency estimates from a fixed
  ``depth x width`` cell table with the one-sided error guarantee
  (estimate >= truth), mergeable by cellwise sum.
* :func:`bloom_bitmap` / :func:`bloom_hits` — Bloom-filter membership
  packed into 62-bit words (``bits/62`` rows regardless of set size),
  no false negatives by construction.

All three are built from the cross-engine ``h60`` / ``affine_mix`` hash
family (datapipe/hashes.py), so each Spark plan and its DuckDB oracle
compute IDENTICAL sketch contents — the correctness gate hashes the
sketch output itself, not a tolerance band. Estimator arithmetic is
integer floor division (Spark ``div`` == DuckDB ``//`` on the
non-negative operands used here); no float sums anywhere, so partition
order can never move a digit.

The reference (epfl-dlab/GenIE) has no sketch tier; this extends the
training-data toolkit the same way the dedup/similarity modules do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashes import affine_mix, affine_mix_sql, h60, h60_sql

H_RANGE = 1 << 60  # h60 output range [0, 2^60)

# The registry's sketch sizes: the SQL twins are built at these, and the
# Spark entries pass them to the sketch builders.
DSK_BUCKETS = 256
DSKG_BUCKETS = 64
CMS_DEPTH, CMS_WIDTH = 4, 1024
BLOOM_BITS, BLOOM_K = 1 << 16, 5


# ---------------------------------------------------------------------------
# 1. Distinct-count estimation: stochastic-averaging min-hash sketch
# ---------------------------------------------------------------------------


def minhash_distinct_sketch(items: DataFrame, buckets: int = 256) -> DataFrame:
    """The sketch itself: ``(bucket, vmin)`` — per-bucket minimum of the
    bucket-stripped hash of the ``t`` column. ``buckets`` must be a power
    of two (bucket = low bits, value = high bits, so value stays uniform
    on ``[0, 2^60/buckets)``).

    Scale shape: one partial-aggregated groupBy (min combines map-side)
    from N rows to ``buckets`` rows — the distinct-count answer without
    the count-distinct shuffle of distinct values. Mergeable: union two
    sketches and re-min to combine corpora."""
    if buckets & (buckets - 1):
        raise ValueError("buckets must be a power of two")
    shift = buckets.bit_length() - 1
    h = h60(F.col("t"))
    return (
        items.select(
            h.bitwiseAND(F.lit(buckets - 1).cast("long")).alias("bucket"),
            F.shiftright(h, shift).alias("v"),
        )
        .groupBy("bucket")
        .agg(F.min("v").alias("vmin"))
    )


def _dsk_params(buckets: int):
    """(extra_shift, R', m²R') with m²R' kept inside signed-64.

    Values enter at ``R = 2^(60 - lg m)``; dropping ``e = max(0, lg m
    - 2)`` further low bits makes ``m^2 * R'`` at most ``2^62``."""
    lgm = buckets.bit_length() - 1
    extra = max(0, lgm - 2)
    rp = H_RANGE >> (lgm + extra)
    return extra, rp, buckets * buckets * rp


def distinct_estimate(sketch: DataFrame, buckets: int = 256) -> DataFrame:
    """One row ``(est_distinct)`` from a :func:`minhash_distinct_sketch`.

    NOT the naive per-bucket inversion: ``E[1/min]`` diverges (the min
    of uniforms has mass at 0), so summing ``R/vmin_b`` estimates is
    dominated by the unluckiest bucket and overestimates by an order of
    magnitude (observed 12x). Instead SUM THE MINS FIRST — ``S = sum_b
    vmin_b`` concentrates (relative stdev ~1/sqrt(m)) — then invert
    once. A second trap hides in the inversion: bucket occupancies are
    Poisson, and ``E[(1-e^-λ)/λ] != 1/(λ+1)``, so the naive ``m^2 R/S
    - m`` undershoots ~30% in the sparse regime. Folding in the
    MEASURED empty-bucket count ``z`` (the linear-counting correction)
    cancels the occupancy term exactly: with each empty bucket padding
    S by its no-item expectation ``R``, the Poisson identity
    ``E[1/(N+1)] = (1-e^-λ)/λ`` collapses to ``E[S + Rz] = R(m-z)/λ``,
    so ``n_hat = m * R * (m-z) // (S + Rz + 1)`` — unbiased at every
    load factor, sparse through saturated. All arithmetic is integer
    (``_dsk_params`` keeps ``m^2 R'`` inside signed-64), so both
    engines agree bit-for-bit."""
    extra, rp, _ = _dsk_params(buckets)
    s = sketch.agg(
        F.sum(F.shiftright("vmin", extra)).alias("s"),
        (F.lit(buckets).cast("long") - F.count(F.lit(1))).alias("z"),
    )
    return s.select(
        F.expr(
            f"({buckets}L * {rp}L * ({buckets}L - z))"
            f" div (s + {rp}L * z + 1L)"
        ).alias("est_distinct")
    )


def distinct_sketch_sql() -> str:
    """DuckDB twin of sketch+estimate over ``tk(t)`` at ``DSK_BUCKETS``:
    emits CTEs ``dsk_h/dsk_b/dsk_e``; select ``est_distinct`` from
    ``dsk_e``."""
    buckets = DSK_BUCKETS
    shift = buckets.bit_length() - 1
    extra, rp, _ = _dsk_params(buckets)
    h = h60_sql("t")
    return f"""dsk_h AS (SELECT {h} AS h FROM tk),
dsk_b AS (SELECT h & {buckets - 1} AS bucket, min(h >> {shift}) AS vmin
          FROM dsk_h GROUP BY 1),
dsk_s AS (SELECT sum(vmin >> {extra})::BIGINT AS s,
                 ({buckets} - count(*))::BIGINT AS z FROM dsk_b),
dsk_e AS (SELECT (({buckets} * {rp} * ({buckets} - z))
                  // (s + {rp} * z + 1))::BIGINT AS est_distinct
          FROM dsk_s)"""


# ---------------------------------------------------------------------------
# 2. Frequency estimation: count-min sketch
# ---------------------------------------------------------------------------


def cms_sketch(
    items: DataFrame, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Count-min sketch of the ``t`` column's item frequencies:
    ``(j, b, cnt)`` cells, ``depth x width`` rows total. Row ``j`` hashes
    each item to bucket ``affine_mix(h60(item), j) mod width`` — one md5
    per item, then pure-arithmetic derived hashes per row (the
    MinHash-family trick).

    Scale shape: one row-local explode to ``depth`` cells per item,
    then ONE partial-aggregated groupBy to ``depth*width`` rows — the
    hot-key answer without materializing the full key-frequency table.
    Mergeable by cellwise sum (union + re-sum)."""
    # bind the base hash as a lambda variable (transform over a 1-element
    # array) so md5 runs ONCE per item: HOF lambdas are interpreted with
    # no CSE, and an alias in a separate projection would be re-inlined
    # by CollapseProject (single textual use), re-evaluating h60 per row
    # j — `depth` md5s per item instead of one
    cells = F.flatten(
        F.transform(
            F.array(h60(F.col("t"))),
            lambda h: F.transform(
                F.sequence(F.lit(0), F.lit(depth - 1)),
                lambda j: F.struct(
                    j.cast("int").alias("j"),
                    F.pmod(affine_mix(h, j), F.lit(width)).alias("b"),
                ),
            ),
        )
    )
    return (
        items.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.j").alias("j"), F.col("c.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query the sketch: per probe key ``t``, the CMS estimate is
    ``min over j of cnt[j][b_j(key)]`` — one-sided (>= true count; cells
    only ever over-count via collisions). Probe keys absent from the
    sketched corpus would need a missing-cell -> 0 fill; callers here
    probe keys drawn from the corpus, whose cells all exist.

    Scale shape: the sketch is ``depth*width`` rows — broadcast side of
    the join; probes are never shuffled."""
    base = h60(F.col("t"))
    cells = F.transform(
        F.sequence(F.lit(0), F.lit(depth - 1)),
        lambda j: F.struct(
            j.cast("int").alias("j"),
            F.pmod(affine_mix(base, j), F.lit(width)).alias("b"),
        ),
    )
    probe_cells = probes.select(
        "t", F.explode(cells).alias("c")
    ).select("t", F.col("c.j").alias("j"), F.col("c.b").alias("b"))
    return (
        probe_cells.join(F.broadcast(sketch), ["j", "b"])
        .groupBy("t")
        .agg(F.min("cnt").cast("long").alias("cms_cnt"))
    )


def cms_sql_chain() -> str:
    """DuckDB twin of :func:`cms_sketch` over ``tk(t)`` at ``CMS_DEPTH x
    CMS_WIDTH``: emits ``cms_h/cms_cells``; probe by joining on
    ``(j, b)`` with the same ``affine_mix_sql(h, j) % CMS_WIDTH`` bucket
    formula."""
    h = h60_sql("t")
    mix = affine_mix_sql("h", "j")
    return f"""cms_h AS (SELECT {h} AS h FROM tk),
cms_cells AS (
  SELECT j::INT AS j, ({mix}) % {CMS_WIDTH} AS b, count(*)::BIGINT AS cnt
  FROM cms_h, range({CMS_DEPTH}) t(j) GROUP BY 1, 2)"""


# ---------------------------------------------------------------------------
# 3. Set membership: Bloom filter packed into 62-bit words
# ---------------------------------------------------------------------------


def _bloom_positions(col: Column, bits: int, k: int) -> Column:
    """array<long> of the ``k`` bit positions for one item. The base
    hash is bound as a lambda variable (transform over a 1-element
    array) so md5 runs once per item, not once per position — HOF
    lambdas are interpreted with no CSE (same lesson as cms_sketch)."""
    return F.flatten(
        F.transform(
            F.array(h60(col)),
            lambda h: F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: F.pmod(affine_mix(h, i), F.lit(bits)),
            ),
        )
    )


def bloom_bitmap(
    members: DataFrame, col: str, bits: int = 1 << 18, k: int = 5
) -> DataFrame:
    """Build the filter: ``(w, m)`` — word index ``pos // 62`` and the
    OR of ``1 << (pos % 62)`` masks. 62 usable bits per signed-64 word
    keeps every shift < 2^62 (no sign-bit shifts — ANSI-mode safe and
    identical in DuckDB).

    Scale shape: the bitmap is at most ``ceil(bits/62)`` rows (~4.2k
    rows / 2^18 bits) REGARDLESS of member-set size — vs broadcasting
    raw member strings. Built with one explode + one partial-agg
    ``bit_or`` groupBy; mergeable by re-OR."""
    pos = F.explode(_bloom_positions(F.col(col), bits, k)).alias("pos")
    p = members.select(pos)
    return (
        p.select(
            F.expr("pos div 62L").alias("w"),
            F.expr("shiftleft(1L, int(pos % 62))").alias("msk"),
        )
        .groupBy("w")
        .agg(F.bit_or("msk").alias("m"))
    )


def bloom_hits(
    probes: DataFrame,
    col: str,
    bitmap: DataFrame,
    bits: int = 1 << 18,
    k: int = 5,
) -> DataFrame:
    """Probe the filter: keeps the probe rows whose ``k`` positions are
    ALL set (Bloom "maybe member" — no false negatives, false positives
    at the classic ``(1-e^{-kn/m})^k`` rate). One row-local explode,
    one broadcast join on the word index, one groupBy counting set
    positions back to ``k``. The probe side is never shuffled on
    content."""
    pr = probes.select(
        F.col(col), F.explode(_bloom_positions(F.col(col), bits, k)).alias("pos")
    ).select(
        col,
        F.expr("pos div 62L").alias("w"),
        F.expr("shiftleft(1L, int(pos % 62))").alias("msk"),
    )
    return (
        pr.join(F.broadcast(bitmap), "w")
        .filter(F.col("m").bitwiseAND(F.col("msk")) == F.col("msk"))
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == k)
        .select(col)
    )


def bloom_sql_chain() -> str:
    """DuckDB twin of :func:`bloom_bitmap` over ``eg(gram)`` at
    ``BLOOM_BITS``/``BLOOM_K``: emits ``bl_pos/bl_map``; probe with the
    same position formula joined on ``w`` and the mask test."""
    h = h60_sql("gram")
    mix = affine_mix_sql(f"({h})", "i")
    return f"""bl_pos AS (
  SELECT (({mix}) % {BLOOM_BITS}) AS pos FROM eg, range({BLOOM_K}) t(i)),
bl_map AS (
  SELECT pos // 62 AS w, bit_or(1::BIGINT << (pos % 62)::INT) AS m
  FROM bl_pos GROUP BY 1)"""


def bloom_probe_sql() -> str:
    """DuckDB twin of :func:`bloom_hits` over ``cg(gram)``: emits
    ``bl_hits(item)`` — probe items whose ``BLOOM_K`` positions are all
    set."""
    h = h60_sql("gram")
    mix = affine_mix_sql(f"({h})", "i")
    return f"""bl_pp AS (
  SELECT gram AS item, (({mix}) % {BLOOM_BITS}) AS pos
  FROM cg, range({BLOOM_K}) t(i)),
bl_hits AS (
  SELECT item FROM (
    SELECT item,
           count(*) FILTER (WHERE
             (m & (1::BIGINT << (pos % 62)::INT)) = (1::BIGINT << (pos % 62)::INT)
           ) AS n_set
    FROM bl_pp JOIN bl_map ON bl_map.w = pos // 62
    GROUP BY item)
  WHERE n_set = {BLOOM_K})"""


def minhash_distinct_sketch_grouped(items: DataFrame) -> DataFrame:
    """Per-source distinct sketch of ``t``: ``(source, bucket, vmin)`` —
    the GROUP BY form of :func:`minhash_distinct_sketch` (one sketch per
    crawl domain) at ``DSKG_BUCKETS``. Still ONE partial-agg groupBy;
    state is ``DSKG_BUCKETS`` rows per group instead of the per-group
    distinct-value shuffle."""
    shift = DSKG_BUCKETS.bit_length() - 1
    h = h60(F.col("t"))
    return (
        items.select(
            "source",
            h.bitwiseAND(F.lit(DSKG_BUCKETS - 1).cast("long")).alias("bucket"),
            F.shiftright(h, shift).alias("v"),
        )
        .groupBy("source", "bucket")
        .agg(F.min("v").alias("vmin"))
    )


def distinct_estimate_grouped(sketch: DataFrame) -> DataFrame:
    """Per-source estimate ``(source, est_distinct)`` — same
    empty-bucket-corrected inversion as :func:`distinct_estimate`,
    aggregated per source."""
    buckets = DSKG_BUCKETS
    extra, rp, _ = _dsk_params(buckets)
    s = sketch.groupBy("source").agg(
        F.sum(F.shiftright("vmin", extra)).alias("s"),
        (F.lit(buckets).cast("long") - F.count(F.lit(1))).alias("z"),
    )
    return s.select(
        "source",
        F.expr(
            f"({buckets}L * {rp}L * ({buckets}L - z))"
            f" div (s + {rp}L * z + 1L)"
        ).alias("est_distinct"),
    )


def distinct_sketch_grouped_sql() -> str:
    """DuckDB twin over ``tks(source, t)``: emits ``dskg_h/dskg_b/dskg_e``
    keyed on ``source``."""
    buckets = DSKG_BUCKETS
    shift = buckets.bit_length() - 1
    extra, rp, _ = _dsk_params(buckets)
    h = h60_sql("t")
    return f"""dskg_h AS (SELECT source AS k, {h} AS h FROM tks),
dskg_b AS (SELECT k, h & {buckets - 1} AS bucket, min(h >> {shift}) AS vmin
           FROM dskg_h GROUP BY 1, 2),
dskg_s AS (SELECT k, sum(vmin >> {extra})::BIGINT AS s,
                  ({buckets} - count(*))::BIGINT AS z
           FROM dskg_b GROUP BY k),
dskg_e AS (SELECT k, (({buckets} * {rp} * ({buckets} - z))
                      // (s + {rp} * z + 1))::BIGINT AS est_distinct
           FROM dskg_s)"""


def histogram_quantiles_grouped(df: DataFrame) -> DataFrame:
    """Approximate per-source p50 and p90 of ``n_chars`` from a 64-wide
    integer histogram — the bounded-state replacement for a per-group sort.
    State per group is ``#occupied buckets`` (≤ domain/width) instead
    of every row: at 100 TB a per-group exact percentile is a full
    shuffle-sort of the fact table, while the histogram is ONE
    partial-aggregatable count groupBy down to (group × bucket) rows;
    the tiny per-group cumulative walk happens on histogram rows only.

    Estimate for percentile p: the midpoint ``b*width + width div 2``
    of the smallest bucket whose cumulative count reaches
    ``ceil(p*n/100)`` (integer form ``(p*n + 99) div 100``). All
    arithmetic is integer, so the DuckDB twin is digit-identical.
    Returns ``source``, ``est_p50``, ``est_p90``."""
    from pyspark.sql import Window

    w = 64
    hist = df.select(
        "source",
        F.expr(f"cast(n_chars as bigint) div {w}").alias("b"),
    ).groupBy("source", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    win = (
        Window.partitionBy("source")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "source",
        "b",
        F.sum("c").over(win).cast("long").alias("cum"),
        F.sum("c").over(
            Window.partitionBy("source")
            .orderBy("b")
            .rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("n"),
    )
    aggs = []
    for p in (50, 90):
        kp = f"(({p}L * n + 99L) div 100L)"
        aggs.append(
            F.min(
                F.expr(
                    f"CASE WHEN cum >= {kp}"
                    f" THEN b * {w}L + {w // 2}L END"
                )
            ).cast("long").alias(f"est_p{p}")
        )
    return cum.groupBy("source").agg(*aggs)


def histogram_quantiles_grouped_sql() -> str:
    """DuckDB CTE chain mirroring :func:`histogram_quantiles_grouped`
    over ``dv(source, n_chars)``: defines ``hq_e(k, est_p50, est_p90)``."""
    w = 64
    ests = ",\n       ".join(
        f"min(CASE WHEN cum >= (({p} * n + 99) // 100)"
        f" THEN b * {w} + {w // 2} END)::BIGINT AS est_p{p}"
        for p in (50, 90)
    )
    return f"""hq_h AS (
  SELECT source AS k, (n_chars::BIGINT // {w}) AS b,
         count(*)::BIGINT AS c
  FROM dv GROUP BY 1, 2),
hq_c AS (
  SELECT k, b,
         sum(c) OVER (PARTITION BY k ORDER BY b
                      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
         sum(c) OVER (PARTITION BY k)::BIGINT AS n
  FROM hq_h),
hq_e AS (
  SELECT k, {ests}
  FROM hq_c GROUP BY k)"""


def bloom_pruned_join(facts: DataFrame, dim: DataFrame) -> DataFrame:
    """Runtime-filter join: broadcast a Bloom bitmap of the dimension's
    keys and pre-filter the fact table BEFORE the equi-join — the
    pattern that keeps a selective dim join from shuffling the whole
    fact table at 100 TB. Bloom has no false negatives, so the final
    joined result is IDENTICAL to the plain join (false positives only
    cost wasted probe rows, which the exact join then drops); the
    oracle runs the plain join to prove it.

    Returns the bloom-surviving lineitem rows inner-joined to the part
    dim on ``l_partkey = p_partkey`` — both keys stringified for the
    cross-engine hash family.
    The bitmap has 2^14 bits (``2^14/62`` rows) regardless of dim size;
    the fact side is filtered row-locally against the broadcast bitmap
    (never shuffled on key content before the cut)."""
    fs = facts.withColumn("__k", F.col("l_partkey").cast("string"))
    ds = dim.withColumn("__k", F.col("p_partkey").cast("string"))
    bits = 1 << 14
    bmp = bloom_bitmap(ds.select("__k"), "__k", bits=bits)
    maybe = bloom_hits(
        fs.select("__k").distinct(), "__k", bmp, bits=bits
    )
    survivors = fs.join(F.broadcast(maybe), "__k", "left_semi")
    return survivors.join(ds, "__k").drop("__k")
