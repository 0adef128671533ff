"""Edge-semantics tests for the round-5 KG operators: fuzzy entity
linking (blocking, argmin determinism, recall honesty), temporal fusion
(latest-wins, tie-breaks, conflict flags), N-Triples escaping, and the
LM surprisal integer-bits formula (the oracle suites cover the
end-to-end values; these pin the corner cases the fixtures can't)."""

import datetime
import math

import pytest
from pyspark.sql import functions as F


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_fuzzy_link_exact_and_typo(spark):
    from genie_spark.canonicalize import fuzzy_link

    catalog = _df(
        spark,
        [(1, "small widget"), (2, "large widget"), (3, "cold bolt")],
        "id long, name string",
    )
    mentions = _df(
        spark,
        [(10, "small widget"), (11, "lrge widget"), (12, "zzz qqq")],
        "mention_id long, mention string",
    )
    out = {r["mention_id"]: r for r in fuzzy_link(mentions, catalog).collect()}
    assert out[10]["entity_id"] == 1 and out[10]["dist"] == 0
    # 'lrge widget' blocks via the shared 'widget' token and resolves to
    # the nearest name
    assert out[11]["entity_id"] == 2 and out[11]["dist"] == 1
    # no shared token -> no candidate row at all (honest recall)
    assert 12 not in out


def test_fuzzy_link_argmin_tiebreak_lowest_id(spark):
    from genie_spark.canonicalize import fuzzy_link

    catalog = _df(
        spark, [(7, "red ring"), (5, "red ring")], "id long, name string"
    )
    mentions = _df(spark, [(1, "red ring")], "mention_id long, mention string")
    row = fuzzy_link(mentions, catalog).collect()[0]
    assert row["entity_id"] == 5  # equal dist -> lowest entity id wins


def test_fuzzy_link_df_cut_drops_hub_token(spark):
    from genie_spark.canonicalize import fuzzy_link

    catalog = _df(
        spark,
        [(1, "hub alpha"), (2, "hub beta"), (3, "hub gamma")],
        "id long, name string",
    )
    mentions = _df(spark, [(1, "hub zzz")], "mention_id long, mention string")
    # 'hub' df=3 > max_block_df=2 -> excluded; 'zzz' matches nothing
    assert fuzzy_link(mentions, catalog, max_block_df=2).count() == 0
    assert fuzzy_link(mentions, catalog, max_block_df=3).count() == 1


def test_fuse_latest_wins_and_flags_conflicts(spark):
    from genie_spark.canonicalize import fuse_latest

    t = datetime.datetime
    rows = [
        ("s1", "r", "old", t(2020, 1, 1)),
        ("s1", "r", "new", t(2021, 1, 1)),
        ("s2", "r", "only", t(2020, 6, 1)),
        # timestamp tie: greatest object string wins, deterministically
        ("s3", "r", "a", t(2020, 1, 1)),
        ("s3", "r", "b", t(2020, 1, 1)),
    ]
    out = {
        r["s"]: r
        for r in fuse_latest(
            _df(spark, rows, "s string, r string, o string, ts timestamp")
        ).collect()
    }
    assert out["s1"]["o_latest"] == "new" and out["s1"]["conflicted"] == 1
    assert out["s1"]["n_assertions"] == 2 and out["s1"]["n_objects"] == 2
    assert out["s2"]["conflicted"] == 0
    assert out["s3"]["o_latest"] == "b"  # tie -> max object


def test_ntriple_escapes_quotes_and_backslashes(spark):
    from genie_spark.triples import ntriple_col

    df = _df(spark, [(1, "p", 'say "hi" \\ bye')], "s long, r string, o string")
    line = df.select(
        ntriple_col(F.col("o")).alias("nt")
    ).collect()[0]["nt"]
    assert line == (
        '<http://example.org/entity/1> <http://example.org/prop/p> '
        '"say \\"hi\\" \\\\ bye" .'
    )


def test_lm_surprisal_bits_formula(spark):
    """Hand-computed: ref = 'a a a b' -> c(a)=3, c(b)=1, T'=5.
    bits: a -> floor(log2(5//4)) = 0; b -> floor(log2(5//2)) = 1;
    OOV z -> floor(log2(5//1)) = 2."""
    from genie_spark.datapipe.textstats import lm_surprisal_bits

    docs = _df(
        spark,
        [(1, "a a a b"), (2, "a b z"), (3, "")],
        "doc_id long, text string",
    )
    ref = docs.filter(F.col("doc_id") == 1)
    out = {r["doc_id"]: r for r in lm_surprisal_bits(docs, ref).collect()}
    assert out[1]["sum_bits"] == 0 + 0 + 0 + 1 and out[1]["oov_tokens"] == 0
    assert out[2]["sum_bits"] == 0 + 1 + 2 and out[2]["oov_tokens"] == 1
    assert out[2]["mean_bits_ppm"] == 3 * 1_000_000 // 3
    # empty doc still yields a row, all zeros
    assert out[3]["n_tokens"] == 0 and out[3]["mean_bits_ppm"] == 0


def test_lm_surprisal_matches_float_log2(spark):
    """The integer-bits score is floor(log2) of the real smoothed ratio —
    spot-check the floor identity against Python floats."""
    from genie_spark.datapipe.textstats import lm_surprisal_bits

    docs = _df(
        spark,
        [(1, "w x y z w w x"), (2, "w q")],
        "doc_id long, text string",
    )
    ref = docs.filter(F.col("doc_id") == 1)
    counts = {"w": 3, "x": 2, "y": 1, "z": 1}
    tprime = 7 + 1
    out = {r["doc_id"]: r for r in lm_surprisal_bits(docs, ref).collect()}
    expect = sum(
        int(math.floor(math.log2(tprime / (counts.get(w, 0) + 1))))
        for w in "w q".split()
    )
    assert out[2]["sum_bits"] == expect


def test_fuse_vote_majority_and_tiebreak(spark):
    from genie_spark.canonicalize import fuse_vote

    rows = [
        # s1: b has 2 votes vs a's 1 -> b wins, margin 666666 ppm
        ("s1", "r", "a"), ("s1", "r", "b"), ("s1", "r", "b"),
        # s2: 1-1 tie -> greater object "z" wins deterministically
        ("s2", "r", "y"), ("s2", "r", "z"),
        # s3: unanimous
        ("s3", "r", "only"),
    ]
    out = {
        r["s"]: r
        for r in fuse_vote(
            _df(spark, rows, "s string, r string, o string")
        ).collect()
    }
    assert out["s1"]["o_winner"] == "b"
    assert (out["s1"]["n_votes"], out["s1"]["n_total"]) == (2, 3)
    assert out["s1"]["margin_ppm"] == 666666
    assert out["s2"]["o_winner"] == "z" and out["s2"]["margin_ppm"] == 500000
    assert out["s3"]["o_winner"] == "only"
    assert out["s3"]["margin_ppm"] == 1000000 and out["s3"]["n_objects"] == 1


def test_snapshot_diff_all_statuses(spark):
    from genie_spark.canonicalize import snapshot_diff

    old = _df(
        spark,
        [("a", "r", "1"), ("b", "r", "2"), ("c", "r", "3")],
        "s string, r string, o_latest string",
    )
    new = _df(
        spark,
        [("a", "r", "1"), ("b", "r", "9"), ("d", "r", "4")],
        "s string, r string, o_latest string",
    )
    got = {(r["s"], r["r"]): r for r in snapshot_diff(old, new).collect()}
    assert got[("a", "r")]["status"] == "unchanged"
    assert got[("b", "r")]["status"] == "changed"
    assert (got[("b", "r")]["o_old"], got[("b", "r")]["o_new"]) == ("2", "9")
    assert got[("c", "r")]["status"] == "removed"
    assert got[("c", "r")]["o_new"] is None
    assert got[("d", "r")]["status"] == "added"
    assert got[("d", "r")]["o_old"] is None


def test_distant_supervision_requires_both_endpoints(spark):
    from genie_spark.datapipe.align import (
        distant_supervision,
        distant_support,
        doc_tokens,
    )

    docs = _df(
        spark,
        [
            (1, "alpha beta gamma"),   # mentions both alpha and beta
            (2, "alpha delta"),        # subject only -> no hit
            (3, "beta gamma"),         # object only -> no hit
            (4, "beta alpha alpha"),   # both, duplicated mention -> 1 row
        ],
        "doc_id long, text string",
    )
    kb = _df(
        spark,
        [("alpha", "rel_0", "beta"), ("alpha", "rel_1", "zeta")],
        "s_name string, r string, o_name string",
    )
    toks = doc_tokens(docs)
    hits = distant_supervision(toks, kb)
    assert sorted(
        (r["doc_id"], r["s_name"], r["o_name"]) for r in hits.collect()
    ) == [(1, "alpha", "beta"), (4, "alpha", "beta")]
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    sup = distant_support(hits, n_docs).collect()
    assert len(sup) == 1
    assert sup[0]["n_support"] == 2 and sup[0]["support_ppm"] == 500000


def test_entity_cooccurrence_lift(spark):
    from genie_spark.datapipe.align import doc_tokens, entity_cooccurrence

    docs = _df(
        spark,
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "d d")],
        "doc_id long, text string",
    )
    toks = doc_tokens(docs)
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    got = {
        (r["a"], r["b"]): r
        for r in entity_cooccurrence(toks, n_docs).collect()
    }
    # (a,b): n_ab=2, n_a=3, n_b=2, N=4 -> 2*4*1e6 // 6 = 1333333 (> chance)
    ab = got[("a", "b")]
    assert (ab["n_ab"], ab["n_a"], ab["n_b"]) == (2, 3, 2)
    assert ab["lift_ppm"] == 1333333
    # (a,c): 1*4*1e6 // (3*1) = 1333333; duplicated token d never pairs
    assert got[("a", "c")]["n_ab"] == 1
    assert ("d", "d") not in got


def test_pseudo_kb_deterministic_and_ordered(spark):
    from genie_spark.datapipe.align import doc_tokens, pseudo_kb

    docs = _df(
        spark,
        [(i, "one two three four five six") for i in range(3)],
        "doc_id long, text string",
    )
    toks = doc_tokens(docs)
    kb1 = sorted(map(tuple, pseudo_kb(toks, keep_mod=2).collect()))
    kb2 = sorted(map(tuple, pseudo_kb(toks, keep_mod=2).collect()))
    assert kb1 == kb2 and len(kb1) > 0
    for s, r, o in kb1:
        assert s < o and r.startswith("rel_")


def test_resolve_entities_transitive_merge(spark):
    from genie_spark.canonicalize import resolve_entities

    # m1 within dist 1 of BOTH e1 and e2 -> one merged cluster; e3 far.
    catalog = _df(
        spark,
        [(1, "red box"), (2, "red fox"), (3, "green hat")],
        "id long, name string",
    )
    mentions = _df(spark, [(10, "red box")], "mention_id long, mention string")
    got = {
        r["node"]: r["component"]
        for r in resolve_entities(mentions, catalog).collect()
    }
    assert got["M10"] == got["E1"] == got["E2"] == "E1"
    assert got["E3"] == "E3"  # singleton labels itself


def test_doc_token_positions_first_occurrence(spark):
    from genie_spark.datapipe.align import doc_token_positions

    docs = _df(spark, [(1, "b a  b c")], "doc_id long, text string")
    got = {
        r["tok"]: r["pos"] for r in doc_token_positions(docs).collect()
    }
    # positions are 1-based over the raw split; the empty slot between
    # "a" and "b" occupies position 3 but emits no row
    assert got == {"b": 1, "a": 2, "c": 5}


def test_distant_supervision_spans_positions(spark):
    from genie_spark.datapipe.align import (
        distant_supervision_spans,
        doc_token_positions,
    )

    docs = _df(
        spark,
        [(1, "x alpha y beta"), (2, "beta alpha")],
        "doc_id long, text string",
    )
    kb = _df(
        spark,
        [("alpha", "rel_0", "beta")],
        "s_name string, r string, o_name string",
    )
    pos = doc_token_positions(docs)
    got = {
        r["doc_id"]: (r["s_pos"], r["o_pos"])
        for r in distant_supervision_spans(pos, kb).collect()
    }
    assert got == {1: (2, 4), 2: (2, 1)}


def test_transe_energy_deterministic_and_consistent(spark):
    from genie_spark.datapipe.graph import transe_energy

    triples = _df(
        spark,
        [("s1", "r1", "o1"), ("s1", "r1", "o2")],
        "s string, r string, o string",
    )
    rows = transe_energy(triples, dim=4, mod=100).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["margin"] == r["energy_neg"] - r["energy"]
        assert 0 <= r["energy"] <= 4 * 2 * 100  # L1 bound: dim * max|sum|
    # identical input -> identical output (pure hash, no randomness)
    again = transe_energy(triples, dim=4, mod=100).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_triple_evidence_aggregates(spark):
    from genie_spark.canonicalize import triple_evidence

    rows = [
        ("s1", "r", "o1", 10, "b"),
        ("s1", "r", "o1", 5, "a"),
        ("s1", "r", "o1", 20, "a"),
        ("s2", "r", "o9", 7, "z"),
    ]
    out = {
        (r["s"], r["o"]): r
        for r in triple_evidence(
            _df(spark, rows, "s string, r string, o string, ts long, src string")
        ).collect()
    }
    e = out[("s1", "o1")]
    assert (e["n_assertions"], e["n_sources"]) == (3, 2)
    assert (e["first_ts"], e["last_ts"], e["src_sample"]) == (5, 20, "a")
    assert out[("s2", "o9")]["n_assertions"] == 1


def test_fuse_weighted_total_weight_wins(spark):
    from genie_spark.canonicalize import fuse_weighted

    rows = [
        # o=a: weight 3+3=6; o=b: weight 10 -> b wins despite fewer votes
        ("s1", "r", "a", 3), ("s1", "r", "a", 3), ("s1", "r", "b", 10),
        # tie 5-5 -> greater object wins
        ("s2", "r", "x", 5), ("s2", "r", "y", 5),
    ]
    out = {
        r["s"]: r
        for r in fuse_weighted(
            _df(spark, rows, "s string, r string, o string, w long")
        ).collect()
    }
    assert out["s1"]["o_winner"] == "b"
    assert (out["s1"]["w_winner"], out["s1"]["w_total"]) == (10, 16)
    assert out["s1"]["margin_ppm"] == 625000
    assert out["s2"]["o_winner"] == "y" and out["s2"]["margin_ppm"] == 500000


def test_chain_rule_confidence_partial_implication(spark):
    from genie_spark.datapipe.graph import chain_rule_confidence

    # a->b->c paths for x1..x3; head holds for x1, x2 only -> conf 2/3
    rows = (
        [(f"x{i}", "r1", "z") for i in (1, 2, 3)]
        + [("z", "r2", "y")]
        + [("x1", "rh", "y"), ("x2", "rh", "y")]
    )
    out = {
        (r["r1"], r["r2"], r["r_head"]): r
        for r in chain_rule_confidence(
            _df(spark, rows, "s string, r string, o string")
        ).collect()
    }
    got = out[("r1", "r2", "rh")]
    assert (got["support"], got["n_body"]) == (2, 3)
    assert got["confidence_ppm"] == 666666


def test_sentence_bounded_ds_vs_doc_level(spark):
    from genie_spark.datapipe.align import (
        distant_supervision_sentences,
        sentence_tokens,
    )
    from genie_spark.extract import sentences_df

    # alpha+beta share a sentence in doc 1; in doc 2 they only share the
    # document -> sentence-level support counts doc 1 alone
    docs = _df(
        spark,
        [(1, "alpha beta here. other stuff. "),
         (2, "alpha here. beta there. ")],
        "doc_id long, text string",
    )
    kb = _df(
        spark,
        [("alpha", "rel_0", "beta")],
        "s_name string, r string, o_name string",
    )
    stoks = sentence_tokens(sentences_df(docs))
    out = distant_supervision_sentences(stoks, kb).collect()
    assert len(out) == 1
    assert (out[0]["n_sent_support"], out[0]["n_doc_support"]) == (1, 1)


def test_sentence_tokens_strip_periods(spark):
    from genie_spark.datapipe.align import sentence_tokens
    from genie_spark.extract import sentences_df

    docs = _df(spark, [(1, "end. next one. ")], "doc_id long, text string")
    toks = {
        (r["sent_idx"], r["tok"])
        for r in sentence_tokens(sentences_df(docs)).collect()
    }
    assert (0, "end") in toks and (1, "next") in toks and (1, "one") in toks
    assert not any(t.endswith(".") for _, t in toks)


def test_link_prior_resolves_ambiguity(spark):
    """Popularity prior: highest support wins, ties break to lowest id,
    candidates with no support rows count as 0, unambiguous names pass
    through."""
    from genie_spark.canonicalize import link_prior

    catalog = spark.createDataFrame(
        [("acme", 1), ("acme", 2), ("acme", 3), ("solo", 9),
         ("tied", 4), ("tied", 5)],
        ["name", "id"],
    )
    support = spark.createDataFrame(
        [(1, 7), (2, 11), (4, 3), (5, 3)], ["id", "support"]
    )
    got = {
        r["name"]: (r["n_candidates"], r["entity_id"], r["support"])
        for r in link_prior(catalog, support).collect()
    }
    assert got == {
        "acme": (3, 2, 11),   # id 3 has no support row -> 0
        "solo": (1, 9, 0),
        "tied": (2, 4, 3),    # tie on support -> lowest id
    }
