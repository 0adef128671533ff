"""Datapipe operator unit tests (value-level parity lives in
test_oracle_parity.py — these cover properties and the non-SQL paths)."""

import pytest

from genie_spark.datapipe.dedup import (
    exact_dedup,
    minhash_jaccard_pairs,
    ngram_jaccard_pairs,
    simhash_table,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta iota"),   # near-dup of 0
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 0
        (3, "one two three four five six seven eight nine"),
        (4, "totally different words everywhere here now ok yes"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_exact_dedup_groups(spark, docs):
    out = {r["keep_id"]: r["n_dups"] for r in exact_dedup(docs).collect()}
    assert out[0] == 2  # docs 0 and 2 collapse, keeper is min id
    assert 2 not in out
    assert out[1] == 1 and out[3] == 1


def test_ngram_jaccard_finds_neardup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert (0, 2) in pairs and pairs[(0, 2)] == 1.0
    assert (0, 1) in pairs and 0.3 <= pairs[(0, 1)] < 1.0
    assert (3, 4) not in pairs


def test_ngram_jaccard_dfcut_bounds_hot_shingle(spark):
    """A boilerplate shingle shared by every doc makes the self-join
    quadratic; max_df must drop it so pair counts stay bounded while
    genuinely-similar pairs (sharing rare shingles) survive."""
    boiler = "click here to subscribe"
    n = 40
    rows = [(i, f"{boiler} unique{i} filler{i} tail{i}") for i in range(n)]
    # one genuine near-dup pair sharing rare shingles beyond the boilerplate
    rows += [(100, f"{boiler} special snowflake content here"),
             (101, f"{boiler} special snowflake content there")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    uncut = ngram_jaccard_pairs(docs, threshold=0.0)
    cut = ngram_jaccard_pairs(docs, threshold=0.0, max_df=5)
    n_uncut = uncut.count()
    n_cut = cut.count()
    assert n_uncut >= (n * (n - 1)) // 2  # boilerplate makes all-pairs
    assert n_cut <= 5 * 4 // 2 * 10      # bounded by max_df per shingle
    assert n_cut < n_uncut
    pairs = {(r["id_a"], r["id_b"]) for r in cut.collect()}
    assert (100, 101) in pairs  # rare-shingle near-dup survives the cut


def test_minhash_lsh_finds_neardup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (0, 2) in pairs  # exact dup always collides
    assert (3, 4) not in pairs


def test_simhash_identical_for_dup(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash_table(docs).collect()}
    assert sh[0] == sh[2]
    assert 0 <= sh[0] < 2**16
    assert sh[0] != sh[4]


def test_decontaminate_flags_ngram_overlap(spark, docs):
    from genie_spark.datapipe.dedup import decontaminate

    # eval item = a 3-gram slice of doc 0; contaminates docs 0, 1 (shared
    # prefix) and 2 (exact dup of 0), not 3/4
    eval_docs = spark.createDataFrame(
        [(100, "alpha beta gamma")], ["doc_id", "text"]
    )
    hits = {
        r["doc_id"]: r["n_hit_grams"]
        for r in decontaminate(docs, eval_docs, n=3).collect()
    }
    assert hits == {0: 1, 1: 1, 2: 1}


def test_line_dedup_first_occurrence_and_reassembly(spark):
    from genie_spark.datapipe.dedup import line_dedup

    rows = [  # 2-word lines: doc 1 repeats its own line; doc 2 repeats doc 1's
        (1, "a b c d a b"),          # lines: "a b", "c d", "a b"(dup)
        (2, "c d e f"),              # lines: "c d"(dup of doc1), "e f"
        (3, "a b"),                  # fully boilerplate vs doc 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in line_dedup(df, line_words=2).collect()}
    assert out[1]["clean_text"] == "a b c d"
    assert (out[1]["n_lines_kept"], out[1]["n_lines_dropped"]) == (2, 1)
    assert out[2]["clean_text"] == "e f"
    assert (out[2]["n_lines_kept"], out[2]["n_lines_dropped"]) == (1, 1)
    assert out[3]["clean_text"] == ""
    assert (out[3]["n_lines_kept"], out[3]["n_lines_dropped"]) == (0, 1)


def test_line_dedup_newline_mode(spark):
    """split='\\n' (the CCNet production form): delimiter lines, '\\n'
    reassembly, same first-occurrence-by-(id,pos) keep rule."""
    from genie_spark.datapipe.dedup import line_dedup

    rows = [
        (1, "a\nb\na"),    # within-doc repeat of 'a'
        (2, "b\nc"),       # 'b' is boilerplate vs doc 1
        (3, "a\nb"),       # fully boilerplate
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in line_dedup(df, split="\n").collect()}
    assert out[1]["clean_text"] == "a\nb"
    assert (out[1]["n_lines_kept"], out[1]["n_lines_dropped"]) == (2, 1)
    assert out[2]["clean_text"] == "c"
    assert (out[2]["n_lines_kept"], out[2]["n_lines_dropped"]) == (1, 1)
    assert out[3]["clean_text"] == ""
    assert (out[3]["n_lines_kept"], out[3]["n_lines_dropped"]) == (0, 2)


def test_redact_contacts_replaces_all_matches(spark):
    from genie_spark.datapipe.textstats import redact_contacts

    df = spark.createDataFrame(
        [(1, "mail a@b.io and c@d.org or see https://x.y/z now")],
        ["doc_id", "text"],
    )
    r = redact_contacts(df).collect()[0]
    assert r["clean_text"] == "mail <EMAIL> and <EMAIL> or see <URL> now"
    assert (r["n_redacted_emails"], r["n_redacted_urls"]) == (2, 1)


def test_quality_gate_reasons_and_pass(spark):
    from genie_spark.datapipe.textstats import quality_gate

    rows = [
        (1, "the data is good and it has many plain words for "
            "the gate to like in a normal document shape here ok"),
        (2, "spam spam spam spam spam spam"),  # short + no stopwords + top-word + dup3
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in quality_gate(df).collect()}
    assert out[1]["passed"] and out[1]["fail_reasons"] == ""
    assert not out[2]["passed"]
    assert out[2]["fail_reasons"] == "too_short;low_stopword;top_word;dup_3gram"


def test_neardup_threshold_boundary_matches_oracles(spark):
    """The near-dup threshold compares the EXACT cosine, in Spark and in
    the DuckDB twins alike. This pair's cosine is 0.29999959…: it rounds
    to 0.3 at 6dp but lies below a 0.3 threshold, so an engine that
    filtered on the rounded value would keep a pair the other drops."""
    import duckdb

    import genie_spark.entry_queries as eq
    from genie_spark.datapipe.dedup import embedding_neardup_pairs
    from genie_spark.datapipe.similarity import (
        ivf_centroids,
        semantic_dedup_sql,
        semantic_dedup_survivors,
    )

    vecs = [(1, 0, [1.0, 0.0]), (2, 0, [0.2999995946884155, 0.9539393186569214])]
    emb = spark.createDataFrame(vecs, "vec_id long, label long, embedding array<float>")
    con = duckdb.connect()
    con.sql("CREATE TABLE embeddings (vec_id BIGINT, label BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?, ?)", vecs)

    pairs = embedding_neardup_pairs(emb, block_col="label", threshold=0.3)
    spark_pairs = sorted(tuple(r) for r in pairs.collect())
    duck_pairs = sorted(con.sql(eq.ORACLES["embedding_neardup"]).fetchall())
    assert spark_pairs == duck_pairs == []

    cents = ivf_centroids(emb, n_cells=1)  # one cell: the pair is compared
    survivors = semantic_dedup_survivors(emb, cents)
    spark_surv = sorted(tuple(r) for r in survivors.collect())
    duck_surv = sorted(con.sql(semantic_dedup_sql(n_cells=1)).fetchall())
    assert spark_surv == duck_surv == [(1, 0), (2, 0)]


def test_substring_dup_stats_coverage(spark):
    from genie_spark.datapipe.dedup import substring_dup_stats

    shared = "one two three four"  # the shared 4-gram
    rows = [
        (0, f"{shared} aa bb cc"),         # tokens 1-4 covered
        (1, f"xx yy {shared} zz"),         # tokens 3-6 covered
        (2, "totally unrelated words here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_tokens"], r["dup_ratio"])
        for r in substring_dup_stats(docs, n=4).collect()
    }
    assert out[0] == (7, 4, round(4 / 7, 6))
    assert out[1] == (7, 4, round(4 / 7, 6))
    assert out[2] == (4, 0, 0.0)


def test_substring_dup_stats_within_doc_repetition(spark):
    from genie_spark.datapipe.dedup import substring_dup_stats

    # the same 3-gram twice WITHIN one doc counts (suffix-array semantics)
    docs = spark.createDataFrame(
        [(0, "a b c xx a b c"), (1, "clean text here now")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["n_dup_tokens"]
        for r in substring_dup_stats(docs, n=3).collect()
    }
    assert out[0] == 6  # both 'a b c' spans, 6 distinct covered tokens
    assert out[1] == 0


def test_domain_quality_stats_grouping(spark):
    from genie_spark.datapipe.textstats import domain_quality_stats

    rows = [
        (0, "the cat and the dog sat with a fish in the sun", "a.com"),
        (1, "of mice and men is a story that works for all", "a.com"),
        (2, "zz", "b.org"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["domain"]: r for r in domain_quality_stats(docs).collect()}
    assert out["a.com"]["n_docs"] == 2 and out["b.org"]["n_docs"] == 1
    assert out["a.com"]["total_words"] == 23
    assert 0.0 <= out["b.org"]["mean_quality"] <= out["a.com"]["mean_quality"]
    assert out["a.com"]["max_quality"] >= out["a.com"]["mean_quality"]


def test_tfidf_top_terms_ranking(spark):
    from genie_spark.datapipe.textstats import tfidf_top_terms

    rows = [
        (0, "apple apple common common common"),
        (1, "banana common common"),
        (2, "common cherry cherry"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tfidf_top_terms(docs, k=2, scale=10**6).collect()
    top = {}
    for r in out:
        top.setdefault(r["doc_id"], []).append((r["rnk"], r["term"], r["score_fp"]))
    for v in top.values():
        v.sort()
    # 'common' is in every doc (df=3, idf=1e6); rare terms (df=1, idf=3e6) win
    assert top[0][0][1] == "apple" and top[0][0][2] == 2 * 3 * 10**6
    assert top[1][0][1] == "banana"
    assert top[2][0][1] == "cherry" and top[2][0][2] == 2 * 3 * 10**6
    # rank-2 term in doc 0: common (tf=3, idf 1e6)
    assert top[0][1][1] == "common" and top[0][1][2] == 3 * 10**6


def test_class_term_lift_matches_python_twin(spark):
    """Lift = in-class rate over corpus rate, both over every token: the
    corpus total counts the tokens of rare terms (tf < 5) too, exactly
    as the class totals do."""
    from collections import Counter

    from genie_spark.datapipe.textstats import class_term_lift

    rows = [
        (0, "en", "a a a b b x y"),
        (1, "en", "a b b q r s"),
        (2, "de", "a b b b b b u v w"),
        (3, "de", "a a z z"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = sorted(
        (r["cls"], r["t"], r["tf_c"], r["tf"], r["lift_ppm"], r["rank"])
        for r in class_term_lift(docs).collect()
    )

    ct = Counter((lang, t) for _i, lang, text in rows for t in text.split())
    tf, n_c = Counter(), Counter()
    for (cls, t), c in ct.items():
        tf[t] += c
        n_c[cls] += c
    n = sum(ct.values())
    ranked = {}
    for (cls, t), c in ct.items():
        if tf[t] >= 5:
            lift = (c * 1_000_000 // tf[t]) * n // n_c[cls]
            ranked.setdefault(cls, []).append((-lift, t, c))
    want = sorted(
        (cls, t, c, tf[t], -neg, rank)
        for cls, terms in ranked.items()
        for rank, (neg, t, c) in enumerate(sorted(terms)[:10], 1)
    )
    assert got == want
