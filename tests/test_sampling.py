"""Deterministic sampling / splitting / ordering operator semantics."""

import pytest
from pyspark.sql import functions as F

from genie_spark.datapipe.sampling import (
    assign_split,
    stratified_sample,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_assign_split_disjoint_exhaustive_and_growth_stable(spark, docs):
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    full = {r["doc_id"]: r["split"] for r in assign_split(docs, w).collect()}
    assert set(full.values()) == {"train", "val", "test"}
    assert len(full) == docs.count()  # exactly one split per row
    # growth stability: assigning on a subset gives the same memberships
    sub = docs.filter(F.col("doc_id") % 2 == 0)
    sub_assign = {r["doc_id"]: r["split"] for r in assign_split(sub, w).collect()}
    assert all(full[k] == v for k, v in sub_assign.items())
    # rough proportions
    n = len(full)
    n_train = sum(1 for v in full.values() if v == "train")
    assert 0.7 * n < n_train < 0.9 * n


def test_split_thresholds_integer_grain_boundaries(spark, docs):
    """Cut points are integers in ppm grain, exhaustive by construction,
    and the Column assignment matches a pure-Python integer-residue twin
    exactly — including weight vectors whose float accumulation is
    inexact (three thirds) where a float-threshold form could misplace
    boundary residues."""
    from genie_spark.datapipe.hashes import h60_salted_sql
    from genie_spark.datapipe.sampling import split_thresholds

    import duckdb

    cuts = split_thresholds({"a": 1, "b": 1, "c": 1})
    assert [c for _, c in cuts] == [333333, 666667, 1_000_000]
    assert all(isinstance(c, int) for _, c in cuts)
    # final cut always pinned to the grain regardless of accumulation
    assert split_thresholds({"x": 0.1, "y": 0.7, "z": 0.2})[-1][1] == 1_000_000

    w = {"a": 1, "b": 1, "c": 1}
    got = {r["doc_id"]: r["split"] for r in assign_split(docs, w).collect()}
    # integer-residue twin through DuckDB's identical h60 formula
    res = duckdb.sql(
        "SELECT i, (" + h60_salted_sql("i", "'split'") + ") % 1000000 AS r "
        "FROM (SELECT unnest(range(0, 500))::VARCHAR AS i)"
    ).fetchall()
    names = [n for n, _ in cuts]
    for i, r in res:
        want = next(n for n, c in cuts if r < c)
        if int(i) in got:
            assert got[int(i)] == want, (i, r)


def test_stratified_sample_rates_per_stratum(spark, docs):
    out = stratified_sample(
        docs, {"en": 1.0, "de": 0.0}, default_fraction=0.0
    )
    langs = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert langs == {"en"}
    n_en = docs.filter(F.col("lang") == "en").count()
    assert out.count() == n_en  # fraction 1.0 keeps every row


def test_shuffle_order_is_stable_dense_permutation(spark, docs):
    """Epoch shuffle: a dense 0..n-1 permutation, identical across
    partitionings (the property seeded framework shuffles lose when the
    layout changes), different across epochs."""
    from genie_spark.datapipe.sampling import shuffle_order

    e0 = {r["doc_id"]: r["shuffle_rank"] for r in shuffle_order(docs, epoch=0).collect()}
    e0b = {
        r["doc_id"]: r["shuffle_rank"]
        for r in shuffle_order(docs.repartition(13), epoch=0).collect()
    }
    assert e0 == e0b
    assert sorted(e0.values()) == list(range(len(e0)))
    e1 = {r["doc_id"]: r["shuffle_rank"] for r in shuffle_order(docs, epoch=1).collect()}
    assert e1 != e0 and sorted(e1.values()) == list(range(len(e1)))


def test_repetition_features_semantics(spark):
    """Crafted documents: a fully repeated doc maxes the dup fractions, a
    unique-word doc zeroes them; top-word dominance is exact."""
    from genie_spark.datapipe.textstats import repetition_features

    rows = [
        (1, "spam spam spam spam spam spam"),      # total repetition
        (2, "one two three four five six"),        # no repetition
        (3, "a b a b a b a b"),                    # alternating bigram dup
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in repetition_features(df).collect()}
    # doc 1: 5 bigrams all "spam spam" -> dup frac 4/5; top word 6/6
    assert out[1]["dup_2gram_frac"] == pytest.approx(0.8)
    assert out[1]["top_word_frac"] == pytest.approx(1.0)
    # doc 2: all distinct
    assert out[2]["dup_2gram_frac"] == 0.0
    assert out[2]["dup_3gram_frac"] == 0.0
    assert out[2]["top_word_frac"] == pytest.approx(round(1 / 6, 6))
    # doc 3: 7 bigrams, 2 distinct -> 5/7 dup; top word 4/8
    assert out[3]["dup_2gram_frac"] == pytest.approx(round(5 / 7, 6))
    assert out[3]["top_word_frac"] == pytest.approx(0.5)


def test_url_normalization_rules(spark):
    from genie_spark.datapipe.urls import normalize_url_col

    cases = [
        ("HTTPS://Example.COM/A/b/", "https://example.com/A/b"),     # host lower, path case kept, trailing /
        ("http://h/p?utm_source=x&q=1&utm_b=2#f", "http://h/p?q=1"),  # utm + fragment dropped, order kept
        ("https://h/?utm_only=1", "https://h"),                       # empty query + root slash collapse
        ("https://h/p?b=2&a=1", "https://h/p?b=2&a=1"),               # param order preserved
        ("https://h", "https://h"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [r["n"] for r in df.select(normalize_url_col().alias("n")).collect()]
    assert got == [want for _, want in cases]


def test_dedup_by_url_keep_policies(spark):
    from genie_spark.datapipe.urls import dedup_by_url

    rows = [  # (doc_id, ts, url) — three fetches of one page, one of another
        (10, 5, "https://h/p"),
        (11, 9, "HTTPS://H/p/"),          # newest fetch of page p
        (12, 9, "https://h/p?utm_x=1"),   # ties ts with 11 → max id wins
        (20, 1, "https://h/q"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "ts", "url"])

    first = {r["norm_url"]: r["keep_id"] for r in dedup_by_url(df).collect()}
    assert first == {"https://h/p": 10, "https://h/q": 20}

    latest = {
        r["norm_url"]: (r["keep_id"], r["n_dups"])
        for r in dedup_by_url(df, keep="latest", ts_col="ts").collect()
    }
    assert latest == {"https://h/p": (12, 3), "https://h/q": (20, 1)}

    with pytest.raises(ValueError, match="requires ts_col"):
        dedup_by_url(df, keep="latest")
    with pytest.raises(ValueError, match="keep must be"):
        dedup_by_url(df, keep="newest")


def test_contact_flags_semantics(spark):
    from genie_spark.datapipe.textstats import contact_flags

    rows = [
        (1, "reach me at jane.doe+x@sub.example.co.uk today"),
        (2, "see https://example.org/a/b_c and http://plain.example/d"),
        (3, "no contact surface here at all"),
        (4, "two mails: a@b.io c.d@e-f.org plus https://x.y/z"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in contact_flags(df).collect()}
    assert out[1]["n_emails"] == 1 and out[1]["has_contact"]
    assert out[2]["n_urls"] == 2 and out[2]["n_emails"] == 0
    assert out[3]["n_emails"] == 0 and out[3]["n_urls"] == 0 and not out[3]["has_contact"]
    assert out[4]["n_emails"] == 2 and out[4]["n_urls"] == 1
