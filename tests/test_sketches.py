"""Property tests for the sketch tier (datapipe/sketches.py).

The oracle suite already proves cross-engine exactness of the sketch
CONTENTS; these tests pin the mathematical guarantees each sketch
advertises — the properties a user relies on when they accept the
approximation:

* min-hash distinct estimator: duplication-insensitivity (the defining
  virtue) and bounded relative error at the configured bucket count;
* count-min: one-sided error (estimate >= truth, always) and exactness
  when width >> #keys (no collisions possible to observe);
* Bloom: NO false negatives ever, and false positives actually occur at
  an undersized configuration (so the fp accounting in the registry
  query is exercising real behavior, not a degenerate always-zero).
"""

import pytest
from pyspark.sql import functions as F

from genie_spark.datapipe.sketches import (
    bloom_bitmap,
    bloom_hits,
    cms_estimate,
    cms_sketch,
    distinct_estimate,
    minhash_distinct_sketch,
)


@pytest.fixture(scope="module")
def items(spark):
    # 2000 distinct keys, each duplicated a key-dependent number of times
    return spark.range(2000).select(
        F.concat(F.lit("key-"), F.col("id").cast("string")).alias("t"),
        (F.pmod("id", F.lit(7)) + 1).alias("reps"),
    ).select(F.expr("explode(array_repeat(t, int(reps)))").alias("t"))


def test_distinct_estimate_duplication_insensitive(spark, items):
    buckets = 256
    est_dup = distinct_estimate(
        minhash_distinct_sketch(items, buckets), buckets
    ).collect()[0][0]
    est_uniq = distinct_estimate(
        minhash_distinct_sketch(items.distinct(), buckets), buckets
    ).collect()[0][0]
    assert est_dup == est_uniq  # min absorbs repeats exactly


def test_distinct_estimate_error_bound(spark, items):
    # ~1/sqrt(256) ≈ 6% relative stdev; assert a 2.5-sigma band — and
    # that the occupancy correction holds in the SPARSE regime too
    # (n < m), where the uncorrected estimator was off 5x
    est = distinct_estimate(
        minhash_distinct_sketch(items, 256), 256
    ).collect()[0][0]
    assert abs(est - 2000) / 2000 < 0.15
    sparse = items.distinct().limit(100)
    est_s = distinct_estimate(
        minhash_distinct_sketch(sparse, 256), 256
    ).collect()[0][0]
    assert abs(est_s - 100) / 100 < 0.3


def test_distinct_sketch_rejects_non_power_of_two(spark, items):
    with pytest.raises(ValueError):
        minhash_distinct_sketch(items, 100)


def test_cms_one_sided_and_exact_when_wide(spark, items):
    exact = items.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    # undersized width: collisions guaranteed (2000 keys into 128 buckets)
    sk = cms_sketch(items, depth=4, width=128)
    est = cms_estimate(sk, exact.select("t"), depth=4, width=128)
    joined = exact.join(est, "t").select("c", "cms_cnt").collect()
    assert len(joined) == 2000
    assert all(r.cms_cnt >= r.c for r in joined)  # one-sided, no exception
    assert any(r.cms_cnt > r.c for r in joined)  # collisions really occur
    # oversized width: few keys, no observable overcount for the probes
    few = items.filter(F.col("t").isin("key-0", "key-1", "key-2"))
    sk2 = cms_sketch(few, depth=4, width=4096)
    est2 = cms_estimate(sk2, few.select("t").distinct(), depth=4, width=4096)
    ex2 = few.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    assert all(
        r.cms_cnt == r.c for r in ex2.join(est2, "t").collect()
    )


def test_bloom_no_false_negatives_and_fp_rate(spark, items):
    members = items.distinct().filter(F.col("t").rlike("key-1[0-9][0-9]$"))  # 100 keys
    probes = items.distinct()  # 2000 keys, 100 of them members
    # undersized filter (512 bits, k=3) -> false positives WILL occur
    bm = bloom_bitmap(members, "t", bits=512, k=3)
    hits = {r.t for r in bloom_hits(probes, "t", bm, bits=512, k=3).collect()}
    member_set = {r.t for r in members.collect()}
    assert member_set <= hits  # no false negatives, ever
    assert len(hits) > len(member_set)  # saturated filter shows fps
    # right-sized filter (2^16 bits, k=5): fp rate ~0 at this n
    bm2 = bloom_bitmap(members, "t", bits=1 << 16, k=5)
    hits2 = {r.t for r in bloom_hits(probes, "t", bm2, bits=1 << 16, k=5).collect()}
    assert member_set <= hits2
    assert len(hits2 - member_set) <= 2


def test_bloom_bitmap_bounded_rows(spark, items):
    # the 100 TB claim: bitmap rows bounded by bits/62, not member count
    bm = bloom_bitmap(items.distinct(), "t", bits=1 << 12, k=5)
    assert bm.count() <= (1 << 12) // 62 + 1


def test_sketch_plans_partial_aggregate(spark, items):
    # both sketch builds must show map-side partial aggregation (two
    # HashAggregate spans around ONE Exchange) — the shape that makes
    # them cheap at scale
    for df in (
        minhash_distinct_sketch(items, 256),
        cms_sketch(items, 4, 1024),
        bloom_bitmap(items, "t", 1 << 14, 5),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("HashAggregate") >= 2
        assert "Exchange" in plan
