"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design. Exact dedup is one hash-groupBy (map-side partial agg, tiny
shuffle of (hash, min_id) pairs). MinHash signatures are computed entirely
row-local with higher-order functions — zero shuffle until the LSH
band-explode, whose shuffle volume is (#docs × #bands) short rows, not
document text. Candidate verification touches only bucket-colliding pairs
(the whole point of LSH: at 10^12 docs an all-pairs comparison is 10^24
and the band-bucket join is ~linear). SimHash follows the same pattern
with a bit-signature and band-equality blocking. All hashing uses the
DuckDB-reproducible :mod:`hashes` primitives; production swaps xxhash64.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashes import h60, minhash_params, minhash_perm


def words_col() -> Column:
    """The ``text`` column split on single spaces."""
    return F.split(F.col("text"), " ")


def shingles_col(k: int = 3) -> Column:
    """Word k-shingles of the ``text`` column as an array<string> —
    row-local, no shuffle. Docs shorter than k words yield a single
    whole-text shingle so every doc participates in dedup."""
    w = words_col()
    n = F.size(w)
    make = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.concat_ws(" ", F.slice(w, i, k)),
    )
    return F.when(n >= k, F.array_distinct(make)).otherwise(F.array(F.concat_ws(" ", w)))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup: md5 the text, keep the smallest id per hash. Returns
    (text_hash, keep_id, n_dups). One shuffle on the 128-bit hash."""
    return (
        docs.select(F.md5(F.col("text")).alias("text_hash"), F.col("doc_id"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


# The registry's MinHash near-dup configuration: signature length, LSH
# bands and the estimated-Jaccard cut.
MINHASH_N, MINHASH_BANDS, MINHASH_T = 16, 4, 0.5


def minhash_signature_col(sh: Column) -> Column:
    """array<string> shingles → array<bigint> MinHash signature of
    ``MINHASH_N`` hashes.
    Row-local, no explode, no shuffle. Each shingle is md5-hashed ONCE
    (h60) into a pre-hashed array, then expanded to its MINHASH_N affine
    permutations, and the signature is an elementwise-min fold over those
    per-shingle rows. The nesting is the point: higher-order functions are
    interpreted (no codegen, no common-subexpression elimination), so the
    earlier form — MINHASH_N separate ``array_min(transform(base, ...))``
    terms sharing a ``base`` Column — inlined the md5 into every term and
    paid MINHASH_N md5 evaluations per shingle (~25 s single-task at
    sf0.1; this form ~16× fewer md5s)."""
    params = minhash_params(MINHASH_N)
    hashed = F.transform(sh, lambda s: h60(s))
    perms = F.transform(
        hashed,
        lambda h: F.array(*[minhash_perm(h, a, b, c) for (a, b, c) in params]),
    )
    zero = F.array(
        *[F.lit((1 << 63) - 1).cast("long") for _ in range(MINHASH_N)]
    )
    return F.aggregate(
        perms, zero, lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b))
    )


def _declared_partitions(df: DataFrame) -> int:
    """Partition count the physical plan DECLARES, without building the
    RDD chain (``df.rdd`` on a 100-TB plan walks file listings and
    disables AQE) and without running a job. Explicit repartitions /
    exchanges report their count; scans and local relations report 0
    (unknown partitioning)."""
    try:
        return int(
            df._jdf.queryExecution().sparkPlan().outputPartitioning().numPartitions()
        )
    except Exception:  # non-classic backends: treat as unknown
        return 0


def spread_for_compute(docs: DataFrame) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism`` partitions unless
    the plan already declares at least that partitioning. CPU-bound
    row-local stages (hashing every shingle) need partition count to
    track CORES, not input bytes: a single small parquet file splits into
    1-2 scan tasks (one row group = one task) and serializes the hash
    work on one core, and AQE coalesces byte-light shuffles the same way.
    Same policy and probe (:func:`_declared_partitions`) as
    ``pipeline.extract_pipeline`` uses for the compute-bound decode
    stage. Scans report unknown (0) and get the balancing repartition —
    the safe default when the downstream stage is compute-dominant, and
    the shuffle moves only the rows this stage was going to read anyway,
    exactly once."""
    target = docs.sparkSession.sparkContext.defaultParallelism
    if _declared_partitions(docs) < target:
        docs = docs.repartition(target)
    return docs


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    return spread_for_compute(docs).select(
        F.col(id_col),
        minhash_signature_col(shingles_col()).alias("sig"),
    )


def banded_keys(
    sigs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, bkey) LSH band keys from a signature table
    (``MINHASH_BANDS`` bands of ``MINHASH_N // MINHASH_BANDS`` rows) — the
    materialized form IS the near-dup index a production pipeline keeps
    between runs (see :func:`incremental_lsh_matches`). Row-local
    explode at the scan, no shuffle."""
    rows_per_band = MINHASH_N // MINHASH_BANDS
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bkey"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bkey")


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded LSH: docs sharing any full band collide. Output (id_a, id_b)
    with id_a < id_b, distinct. Shuffle keys are (band, band_hash) — short
    rows; hot buckets (boilerplate-heavy corpora) are handled by AQE skew
    join at scale."""
    banded = banded_keys(sigs, id_col)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col(f"a.bkey") == F.col(f"b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pipeline: signatures → banded candidates →
    signature-estimated Jaccard ≥ threshold. Returns
    (id_a, id_b, est_jaccard)."""
    sigs = minhash_signatures(docs, id_col=id_col).cache()
    cands = lsh_candidate_pairs(sigs, id_col)
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        cands.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                    lambda m: m,
                )
            )
            / F.lit(float(MINHASH_N)),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )
    return est


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_df: Optional[int] = None,
) -> DataFrame:
    """Exact n-gram Jaccard for pairs sharing ≥1 shingle: explode distinct
    shingles → self-equi-join on shingle → |A∩B| per pair → Jaccard.
    The shingle join is the scalable blocking (only co-shingled pairs ever
    meet), but its pair count is quadratic in per-shingle document
    frequency: a boilerplate shingle shared by 10^6 docs alone makes 10^12
    join rows. ``max_df`` is the web-scale guard — shingles appearing in
    more than ``max_df`` documents are dropped (stopword semantics: they
    leave both the intersection AND the per-doc set sizes) via a df
    groupBy + left-semi join before the self-join, so the hottest key
    contributes at most max_df·(max_df−1)/2 pairs. ``max_df=None``
    preserves the exact-Jaccard semantics for small corpora."""
    sh = spread_for_compute(docs).select(
        F.col("doc_id"), F.explode(shingles_col()).alias("shingle")
    ).distinct()
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        common.join(na, "id_a").join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


SIMHASH_BITS = 16


def simhash_col() -> Column:
    """Per-doc ``SIMHASH_BITS``-bit SimHash over the word tokens of the
    ``text`` column: bit i of the signature is the sign of Σ_tokens (±1
    by bit i of h60(token)). Row-local HOF aggregate — no explode, no
    shuffle. Bit positions are unrolled at plan-build time (shift
    amounts must be literals in Spark).

    Each token is md5-hashed ONCE into an array, then the per-bit ±1 fold
    runs over the integer hashes — the earlier form re-evaluated h60 inside
    every bit lambda (16 md5s per token; HOF lambdas get no common-
    subexpression elimination)."""
    hs = F.transform(words_col(), lambda t: h60(t))

    def bit_signs(h: Column) -> Column:
        return F.array(
            *[
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                for i in range(SIMHASH_BITS)
            ]
        )

    sums = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(acc, bit_signs(h), lambda a_, d: a_ + d),
    )
    # sums_i > 0 → add 2^i; pow stays exact (16 bits « double mantissa)
    return F.aggregate(
        F.zip_with(
            sums,
            F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
            lambda s, i: F.when(
                s > 0, F.pow(F.lit(2.0), i.cast("double")).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_table(docs: DataFrame) -> DataFrame:
    return spread_for_compute(docs).select(
        F.col("doc_id"), simhash_col().alias("simhash")
    )


def embedding_neardup_lsh_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding near-dup with a REAL blocking key: vectors are bucketed
    by the deterministic 4-plane hyperplane-LSH signature over the
    ``EMB_DIM`` dimensions first, then the all-pairs cosine runs within
    buckets only — the corpus-safe default
    (2^4 buckets cut the quadratic term ~4^4×). High-cosine pairs land in
    the same bucket with probability (1 − θ/π)^4, so the recall tradeoff
    is explicit."""
    from .similarity import hyperplane_bucket_col, hyperplanes

    planes = hyperplanes()
    return _salted_cosine_pairs(
        emb,
        hyperplane_bucket_col(planes),
        threshold, _block_salt(emb, 1 << 4),
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    block_col: Optional[str] = None,
    threshold: float = 0.95,
    salt: int = 1,
) -> DataFrame:
    """Embedding-cosine near-dup: within-block all-pairs cosine ≥ threshold.
    ``block_col`` is REQUIRED: the blocking key (a cluster/label/LSH
    bucket column) that bounds the within-block quadratic term. An
    accidental unblocked call on a corpus-sized frame is an all-pairs
    self-join, so there is no default — callers without a natural
    blocking column should use :func:`embedding_neardup_lsh_pairs`, which
    derives one from the deterministic hyperplane-LSH signature.
    ``salt``: see :func:`_salted_cosine_pairs`."""
    if not block_col:
        raise ValueError(
            "embedding_neardup_pairs requires an explicit block_col "
            "(all-pairs without blocking is quadratic in the corpus); "
            "use embedding_neardup_lsh_pairs for the LSH-blocked default"
        )
    return _salted_cosine_pairs(emb, F.col(block_col), threshold, salt)


def _block_salt(emb: DataFrame, n_blocks: int) -> int:
    """Salt for a self-join over ``n_blocks`` blocks: 8× oversampled join
    keys vs cores; 1 (a no-op) once the blocks alone reach 8× the
    cores."""
    cores = emb.sparkSession.sparkContext.defaultParallelism
    return max(1, -(-cores * 8 // max(1, n_blocks)))


def _salted_cosine_pairs(
    emb: DataFrame,
    block: Column,
    threshold: float,
    salt: int,
) -> DataFrame:
    """The blocked self-join behind every embedding pair operator: pairs
    of ``vec_id`` values ``id_a < id_b`` sharing a ``block`` value whose
    EXACT ``embedding`` cosine reaches ``threshold`` (the DuckDB twins
    compare the same unrounded value; only the reported cosine is rounded
    to 6dp). Returns ``(id_a, id_b, cosine)``.

    ``salt`` splits each block's pair generation across salt×|blocks|
    join keys (standard salting: a-side keyed by a deterministic id
    hash, b-side exploded over all salts, so every within-block pair
    still meets exactly once). The within-block dot products are the CPU
    cost of this operator, and with |blocks| (e.g. 8 IVF cells or
    2^n_planes buckets) below the core count the shuffle can't spread
    them; :func:`_block_salt` picks the salt. At scale, where block
    counts grow with the corpus and exceed the cluster's cores, salt
    degenerates to 1 and the plan is unchanged. Results are identical
    for any salt — it never appears in the output or the pair
    condition."""
    from .similarity import dot_col, norm_col

    v = F.col("embedding")
    base = emb.select(
        F.col("vec_id"),
        block.alias("_blk"),
        v.alias("_v"),
        norm_col(v).alias("_n"),
    )
    salt = max(1, int(salt))
    a_df = base.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(salt))
    )
    b_df = base.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0).cast("long"), F.lit(salt - 1).cast("long")))
    )
    if salt > 1:
        # pin the salted partitioning explicitly: the join inputs are
        # byte-light, so AQE would coalesce them back to 1-2 partitions
        # and serialize the per-pair dot products the salt exists to
        # spread (user-specified repartition is exempt from coalescing)
        cores = emb.sparkSession.sparkContext.defaultParallelism
        a_df = a_df.repartition(cores, F.col("_blk"), F.col("_salt"))
        b_df = b_df.repartition(cores, F.col("_blk"), F.col("_salt"))
    a, b = a_df.alias("a"), b_df.alias("b")
    cos = dot_col(F.col("a._v"), F.col("b._v")) / (F.col("a._n") * F.col("b._n"))
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= F.lit(float(threshold)))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM-style n-gram collision
    check): flag every training document sharing at least one word
    ``n``-gram with the held-out evaluation set. Returns
    (id, n_hit_grams) — one row per CONTAMINATED doc with its count of
    distinct shared n-grams; anti-join the ids to drop them.

    Scale shape: the eval side is collapsed to DISTINCT n-grams and
    broadcast (eval sets are ~1e3–1e6 grams vs a 10^12-doc corpus), so
    the training side is one scan + row-local shingling + broadcast hash
    join — the corpus is never shuffled; the final groupBy touches only
    the (rare) colliding rows. Shingling reuses :func:`shingles_col`
    (docs shorter than ``n`` words contribute their whole text, so exact
    copies of short eval items are still caught)."""
    tg = spread_for_compute(docs).select(
        F.col(id_col), F.explode(shingles_col(n)).alias("gram")
    )
    eg = eval_docs.select(
        F.explode(shingles_col(n)).alias("gram")
    ).distinct()
    return (
        tg.join(F.broadcast(eg), "gram")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("n_hit_grams"))
    )


def _positioned_grams(docs: DataFrame, n: int) -> DataFrame:
    """One row per (doc_id, start position, word n-gram), 1-based positions.
    Short docs (< n words) contribute their whole text at position 1 —
    consistent with :func:`shingles_col`. Row-local, no shuffle."""
    w = F.split(F.col("text"), " ")
    n_tok = F.size(w)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n_tok - F.lit(n - 1), F.lit(1))),
        lambda i: F.struct(
            i.alias("pos"), F.concat_ws(" ", F.slice(w, i, n)).alias("gram")
        ),
    )
    return spread_for_compute(docs).select(
        "doc_id", n_tok.alias("n_tok"), F.explode(grams).alias("g")
    ).select("doc_id", "n_tok", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))


def substring_dup_stats(docs: DataFrame, n: int = 8) -> DataFrame:
    """Exact-substring duplication profile (Lee et al. 2022,
    arXiv:2107.06499 "Deduplicating Training Data Makes Language Models
    Better") — the suffix-array ExactSubstr criterion re-expressed as
    the bounded word-n-gram form that distributes: an n-gram is
    DUPLICATED if it occurs at least twice corpus-wide (any doc,
    any position — within-doc repetition counts, as in the suffix-array
    semantics); a token is duplicated if covered by any duplicated gram.
    Returns one row per doc: ``(id, n_tokens, n_dup_tokens, dup_ratio)``.

    Scale shape (100 TB): positioned shingling is row-local; the gram
    occurrence count is one partial-aggregated groupBy on the gram
    (skewed head grams stay map-side-combined); flagging is a shuffle
    join on gram touching only duplicated grams; coverage is an
    explode(sequence) over FLAGGED positions only, then a
    count-distinct per doc. No all-pairs comparison anywhere."""
    tg = _positioned_grams(docs, n)
    dup = (
        tg.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("gram")
    )
    covered = tg.join(dup, "gram").select(
        F.col("doc_id"),
        F.explode(
            F.sequence(
                F.col("pos"), F.least(F.col("pos") + F.lit(n - 1), F.col("n_tok"))
            )
        ).alias("t"),
    )
    per_doc = covered.groupBy("doc_id").agg(
        F.count_distinct("t").alias("n_dup_tokens")
    )
    base = docs.select(
        F.col("doc_id"), F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    return base.join(per_doc, "doc_id", "left").select(
        F.col("doc_id"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce("n_dup_tokens", F.lit(0)).cast("bigint").alias("n_dup_tokens"),
        F.round(
            F.coalesce("n_dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
        ).alias("dup_ratio"),
    )


def lines_col(line_words: int = 8, split: Optional[str] = None) -> Column:
    """The ``text`` column → array<string> of "lines", row-local. With
    ``split`` (e.g. ``'\\n'``) this is a delimiter split — the
    CCNet/RefinedWeb production form over real crawls. Without it, fixed
    ``line_words``-word chunks stand in for lines (the synthetic corpus
    has no newlines). Both forms have exact DuckDB twins
    (string_split)."""
    if split is not None:
        return F.split(F.col("text"), split, -1)
    w = words_col()
    n_lines_c = F.ceil(F.size(w) / F.lit(float(line_words))).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_lines_c - 1),
        lambda i: F.concat_ws(
            " ", F.slice(w, i * F.lit(line_words) + 1, line_words)
        ),
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    line_words: int = 8,
    split: Optional[str] = None,
) -> DataFrame:
    """CCNet/RefinedWeb-style line-level dedup: split each document into
    lines (``split='\\n'`` for real crawls; fixed ``line_words``-word
    chunks otherwise — see :func:`lines_col`), drop every line whose
    content already appeared earlier in the corpus (first occurrence by
    (doc id, position) wins — including within-document repeats), and
    reassemble the surviving lines in order. Returns (id, clean_text,
    n_lines_kept, n_lines_dropped) for every input doc (a
    fully-boilerplate doc keeps an empty clean_text).

    Scale shape: the only content shuffle is the groupBy on the 128-bit
    line digest; the min-struct carries (id, pos, line) so the keeper IS
    the kept line — no join back to the exploded lines (the struct
    comparison never reaches the line field: (id, pos) is unique per
    row). Reassembly shuffles kept lines once on the doc id; line order
    is restored via array_sort over (pos, line) structs, not a global
    sort."""
    lines = lines_col(line_words, split)
    joiner = split if split is not None else " "
    ex = docs.select(
        F.col(id_col), F.posexplode(lines).alias("pos", "line")
    ).withColumn("lh", F.md5("line"))
    keeper = ex.groupBy("lh").agg(
        F.min(
            F.struct(
                F.col(id_col).alias("i"),
                F.col("pos").alias("p"),
                F.col("line").alias("l"),
            )
        ).alias("k")
    )
    per_doc = keeper.groupBy(F.col("k.i").alias(id_col)).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("k.p").alias("pos"), F.col("k.l").alias("line"))
                    )
                ),
                lambda s: s["line"],
            ),
            joiner,
        ).alias("clean_text"),
        F.count("*").alias("n_lines_kept"),
    )
    totals = docs.select(F.col(id_col), F.size(lines).alias("n_lines"))
    return totals.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
        (F.col("n_lines") - F.coalesce("n_lines_kept", F.lit(0))).alias(
            "n_lines_dropped"
        ),
    )


def boilerplate_strip(
    docs: DataFrame,
    id_col: str = "doc_id",
    split: Optional[str] = None,
    min_df: int = 3,
) -> DataFrame:
    """Boilerplate-line removal by corpus document frequency: a line is
    BOILERPLATE if it occurs in ≥ ``min_df`` DISTINCT documents (nav
    bars, cookie banners, shared headers/footers), and ALL its
    occurrences drop — unlike :func:`line_dedup`, which keeps the first.
    This is the frequency leg of the CCNet/RefinedWeb line-filter family
    (C4 drops boilerplate lines by rule; CCNet dedups paragraphs by
    digest; the df-threshold form is the corpus-statistical variant that
    needs a distributed engine). Returns (id, clean_text, n_lines_kept,
    n_lines_dropped) for every input doc.

    Scale shape (100 TB): the df count shuffles (digest, doc) pairs once
    and partial-aggregates; the boilerplate set (lines in ≥min_df docs)
    is the filtered output — tiny relative to the corpus by Zipf, but
    NOT assumed broadcastable: the drop is a digest-keyed left-anti join
    that reuses the df groupBy's hash partitioning (no second content
    shuffle of the corpus text). Reassembly shuffles kept lines once on
    doc id; order restored via array_sort, no global sort."""
    lines = lines_col(split=split)
    joiner = split if split is not None else " "
    ex = docs.select(
        F.col(id_col), F.posexplode(lines).alias("pos", "line")
    ).withColumn("lh", F.md5("line"))
    boiler = (
        ex.groupBy("lh")
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("lh")
    )
    kept = ex.join(boiler, "lh", "left_anti")
    per_doc = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda s: s["line"],
            ),
            joiner,
        ).alias("clean_text"),
        F.count("*").alias("n_lines_kept"),
    )
    totals = docs.select(F.col(id_col), F.size(lines).alias("n_lines"))
    return totals.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
        (F.col("n_lines") - F.coalesce("n_lines_kept", F.lit(0))).alias(
            "n_lines_dropped"
        ),
    )


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word k-gram (k = 3),
    slide a w-hash window (w = 4), select each window's MINIMUM hash
    (RIGHTMOST on ties, the paper's rule), dedupe selections. Guarantees
    any shared run of ≥ w+k-1 words between two documents shares ≥1
    fingerprint, while storing only ~2/(w+1) of the gram hashes — the
    position-robust middle ground between exact-hash dedup (brittle)
    and full MinHash (positionless). Returns ``(id, pos, fp)`` rows —
    join fp against fp to find local overlaps.

    Docs shorter than k words contribute one whole-text fingerprint
    (shingles_col convention). Entirely ROW-LOCAL selection (array
    expressions, no UDF); the only shuffle is the final DISTINCT on
    (id, pos, fp) — and any downstream fp-keyed candidate join is
    banded by construction, never all-pairs."""
    from .hashes import h60

    k, w = 3, 4
    wd = words_col()
    n = F.size(wd)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(wd, i, k)),
        ),
    ).otherwise(F.array(F.col("text")))
    # materialize the hash array in its OWN projection: the window lambda
    # below references it ~4x per window, and CollapseProject would
    # otherwise inline (and codegen would re-evaluate) the md5-per-gram
    # transform inside every reference — measured 53s -> ~2s at sf0.01
    hashed = spread_for_compute(docs).select(
        F.col("doc_id"), F.transform(grams, h60).alias("_hs")
    )
    hs = F.col("_hs")
    m = F.size(hs)

    def pick(i):
        sl = F.slice(hs, i, w)
        mn = F.array_min(sl)
        return F.struct(
            (i + F.size(sl) - F.array_position(F.reverse(sl), mn))
            .cast("int")
            .alias("pos"),
            mn.alias("fp"),
        )

    sel = F.transform(
        F.sequence(F.lit(1), F.greatest(m - F.lit(w - 1), F.lit(1))), pick
    )
    return (
        hashed.select(F.col("doc_id"), F.explode(sel).alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
        .distinct()
    )


def prefix_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Exact-Jaccard (t = 0.5) near-dup pairs via AllPairs/PPJoin prefix
    filtering (Bayardo et al., WWW'07): order every doc's shingles by global
    rarity (df asc, shingle asc) and self-join only the per-doc PREFIX
    of length ``|d| - ceil(t*|d|) + 1`` — any pair with Jaccard >= t is
    guaranteed to share a prefix shingle, so candidate generation sees
    a small slice of each posting list instead of every shingle. The
    candidate set is then verified with the full exact intersection, so
    the output is IDENTICAL to the exhaustive join (the oracle runs the
    exhaustive form — a lossless-filter proof, not a mirror).

    Scale shape vs the df-cut variant: df-cut changes the semantics
    (stopword shingles leave the sets); prefix filtering keeps exact
    semantics and instead bounds the join input — hot shingles are
    almost never in anyone's prefix because prefixes hold the RAREST
    shingles. No global sort/rank anywhere: the only ordering is a
    per-doc window (partitionBy doc_id), and df attaches via a plain
    shingle-keyed join. All threshold math is integer ppm."""
    from pyspark.sql import Window

    t = 500000  # the Jaccard threshold in ppm
    # no spread: the shingle subtree below is referenced by both join
    # sides and the size census, so an added repartition re-executes
    # with every reference (measured 6.0s -> 7.7s with it)
    sh = docs.select(
        "doc_id",
        F.explode(shingles_col()).alias("shingle"),
    ).distinct()
    dfq = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    szd = sh.join(dfq, "shingle").select(
        "doc_id",
        "shingle",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("df", "shingle"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("doc_id"))
        .cast("long")
        .alias("n"),
    )
    pref = szd.filter(
        F.expr(f"rn <= n - ((({t}L * n) + 999999L) div 1000000L) + 1L")
    )
    cand = (
        pref.select(F.col("doc_id").alias("id_a"), "shingle")
        .join(pref.select(F.col("doc_id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("id_a"), "shingle"), "id_a")
        .join(
            sh.select(F.col("doc_id").alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("nc"))
    )
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")),
            "id_b",
        )
        .filter(F.expr(f"nc * (1000000L + {t}L) >= {t}L * (n_a + n_b)"))
        .select(
            "id_a",
            "id_b",
            F.expr("(nc * 1000000L) div (n_a + n_b - nc)").alias(
                "jaccard_ppm"
            ),
        )
    )


def tfidf_cosine_pairs(docs: DataFrame) -> DataFrame:
    """Weighted (TF-IDF-style) sparse cosine similarity join — the
    frequency-aware complement to the set-semantics Jaccard tiers:
    per-term weight ``w = tf * min(n_docs div df, 100)`` (a
    linear, capped rarity signal in place of float log-IDF — same
    monotone ordering, engine-exact). Pairs are scored by squared
    cosine in ppm, computed with ONLY integer math::

        cos2_ppm = ((dot * 1e6) div ss_a) * dot div ss_b

    (two staged floor-divides; by Cauchy-Schwarz the intermediate is
    bounded by 1e6 * ss_b <= ~1e18 for docs up to ~1e4 distinct terms
    with tf,rarity <= 1e2 — inside signed-64, documented bound).

    Scale shape: candidate generation is the df-cut posting self-join
    (terms in > 50 docs are dropped BEFORE the join, stopword
    semantics, hottest key bounded at 50^2 pairs); weights, norms
    and dots are all partial-aggregatable groupBys over one corpus
    explosion; no row-at-a-time Python anywhere.

    The features are word 3-shingles (distinct per doc, so tf folds to
    1 → pure rarity-weighted cosine), not unigrams: when the unigram
    vocabulary is small relative to the corpus every unigram's df grows
    past any cut and the unigram score degenerates, while shingles stay
    rare at any scale (same reason the Jaccard tiers shingle)."""
    toks = spread_for_compute(docs).select(
        "doc_id", F.explode(shingles_col(3)).alias("t")
    )
    postings = toks.groupBy("t", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    dfq = postings.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    ).filter(F.col("df") <= 50)
    w = (
        postings.join(dfq, "t")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "t",
            "doc_id",
            F.expr(
                "tf * least(n_docs div df, 100L)"
            ).alias("w"),
        )
    )
    ss = w.groupBy("doc_id").agg(
        F.sum(F.expr("w * w")).cast("long").alias("ss")
    )
    a = w.select(F.col("doc_id").alias("id_a"), "t", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("id_b"), "t", F.col("w").alias("wb"))
    dots = (
        a.join(b, "t")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.expr("wa * wb")).cast("long").alias("dot"))
    )
    return (
        dots.join(
            ss.select(F.col("doc_id").alias("id_a"), F.col("ss").alias("ss_a")),
            "id_a",
        )
        .join(
            ss.select(F.col("doc_id").alias("id_b"), F.col("ss").alias("ss_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.expr(
                "((dot * 1000000L) div ss_a) * dot div ss_b"
            ).alias("cos2_ppm"),
        )
        .filter(F.col("cos2_ppm") >= 250000)
    )

def incremental_lsh_matches(
    index_docs: DataFrame, batch_docs: DataFrame
) -> DataFrame:
    """Nightly-batch near-dup check: match NEW documents against an
    EXISTING corpus — the incremental shape (the batch is collided
    against the corpus's band keys; batch docs are never paired with
    each other or the corpus with itself). Returns one row per batch
    doc: (doc_id, n_index_matches, best_est_jaccard) —
    best_est_jaccard is NULL for clean docs, so
    ``WHERE n_index_matches = 0`` is the append set. Signatures, bands and
    the Jaccard cut are the registry's ``MINHASH_N``/``MINHASH_BANDS``/
    ``MINHASH_T``.

    What a call computes: MinHash signatures and banded_keys for BOTH
    sides, from the raw documents, on every call — there is no stored
    index. The candidate join is batch-bands x index-bands on
    (band, bkey), so it shuffles both band tables; the signature fetch
    for verification joins only the candidate ids. Keeping the index
    side as a materialized, bkey-bucketed banded_keys table would make
    the per-batch cost |batch| band rows against a bucket-pruned read;
    that is not implemented. Within-batch duplicates are a separate
    (tiny) lsh_candidate_pairs over the batch alone, by policy."""
    sig_old = minhash_signatures(index_docs)
    sig_new = minhash_signatures(batch_docs)
    bo = banded_keys(sig_old).select(
        F.col("doc_id").alias("old_id"), "band", "bkey"
    )
    bn = banded_keys(sig_new).select(
        F.col("doc_id").alias("new_id"), "band", "bkey"
    )
    cand = bn.join(bo, ["band", "bkey"]).select("new_id", "old_id").distinct()
    est = (
        cand.join(
            sig_new.select(F.col("doc_id").alias("new_id"), F.col("sig").alias("sig_n")),
            "new_id",
        )
        .join(
            sig_old.select(F.col("doc_id").alias("old_id"), F.col("sig").alias("sig_o")),
            "old_id",
        )
        .withColumn(
            "ej",
            F.size(
                F.filter(
                    F.zip_with(F.col("sig_n"), F.col("sig_o"), lambda x, y: x == y),
                    lambda m: m,
                )
            )
            / F.lit(float(MINHASH_N)),
        )
        .filter(F.col("ej") >= MINHASH_T)
    )
    matches = est.groupBy("new_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_index_matches"),
        F.round(F.max("ej"), 6).alias("best_est_jaccard"),
    )
    return (
        batch_docs.select(F.col("doc_id").alias("new_id"))
        .join(matches, "new_id", "left")
        .select(
            F.col("new_id").alias("doc_id"),
            F.coalesce("n_index_matches", F.lit(0).cast("long")).alias(
                "n_index_matches"
            ),
            "best_est_jaccard",
        )
    )


def ngram_novelty(ref_docs: DataFrame, new_docs: DataFrame) -> DataFrame:
    """N-gram novelty audit of a candidate corpus slice against a
    reference slice — the freshness number a data-acquisition pipeline
    reports before paying to ingest a new crawl: per new document, how
    many of its distinct 3-shingles were never seen in the reference
    (doc_id, n_grams, n_novel, novelty_ppm).

    Scale shape: reference grams DISTINCT once (partial-agg); the
    membership test is ONE gram-keyed equi-join (both sides hash-
    partition on the shingle — no broadcast assumption, the reference
    is corpus-sized); per-doc tallies partial-aggregate. Short docs
    contribute their whole text as one shingle (shingles_col), so every
    doc gets a defined novelty."""
    refg = (
        spread_for_compute(ref_docs).select(
            F.explode(shingles_col()).alias("g")
        )
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    newg = spread_for_compute(new_docs).select(
        F.col("doc_id"),
        F.explode(shingles_col()).alias("g"),
    )
    per = (
        newg.join(refg, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("seen").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.expr("(n_novel * 1000000L) div n_grams").alias("novelty_ppm"),
    )


def vocab_growth(docs: DataFrame) -> DataFrame:
    """Vocabulary-growth (Heaps'-law saturation) curve: how many NEW
    distinct 3-shingles each successive corpus decile contributes, in
    deterministic doc_id order — the saturation signal that tells an
    acquisition pipeline when more of the same crawl stops adding
    content: (decile, n_new_grams, cum_grams).

    Scale shape: first occurrence per shingle is ONE partial-agg
    min(doc_id) groupBy over the exploded grams; the decile label is a
    row-local integer expression against the broadcast max-id; the
    final cumulative window runs over 10 decile rows (a constant), so
    its SinglePartition exchange is bucket-sized, never data-sized."""
    from pyspark.sql import Window

    sh = spread_for_compute(docs).select(
        F.col("doc_id"),
        F.explode(shingles_col()).alias("g"),
    )
    fs = sh.groupBy("g").agg(F.min("doc_id").cast("long").alias("first_doc"))
    mx = docs.agg((F.max("doc_id") + 1).cast("long").alias("m"))
    dg = (
        fs.crossJoin(F.broadcast(mx))
        .select(
            F.expr("(first_doc * 10L) div m").alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_grams"))
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return dg.select(
        "decile",
        "n_new_grams",
        F.sum("n_new_grams").over(w).cast("long").alias("cum_grams"),
    )
