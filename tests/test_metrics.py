"""Metric aggregations vs hand-computed values (reference semantics:
genie/metrics/*, genie/utils/evaluators.py)."""

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, LongType, StringType, StructField, StructType,
)

from genie_spark.kilt import (
    drop_ignored_relations,
    filter_matching_status,
    filter_relations_drop,
)
from genie_spark.metrics import (
    bucket_metrics,
    macro_metrics,
    micro_metrics,
    per_relation_metrics,
    relation_coverage,
    relation_occurrences,
    zero_shot_metrics,
)

TRIPLE = StructType(
    [StructField("s", StringType()), StructField("r", StringType()), StructField("o", StringType())]
)
SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("pred", ArrayType(TRIPLE)),
        StructField("target", ArrayType(TRIPLE)),
    ]
)


def t(*parts):
    return tuple(parts)


@pytest.fixture(scope="module")
def eval_df(spark):
    rows = [
        # sample 1: pred {A,B}, target {A,C} → correct 1
        (1, [t("s1", "ra", "o1"), t("s2", "rb", "o2")], [t("s1", "ra", "o1"), t("s3", "rc", "o3")]),
        # sample 2: exact match incl. duplicate pred collapsing
        (2, [t("s4", "ra", "o4"), t("s4", "ra", "o4")], [t("s4", "ra", "o4")]),
        # sample 3: empty pred, nonempty target
        (3, [], [t("s5", "rb", "o5")]),
        # sample 4: both empty
        (4, [], []),
    ]
    return spark.createDataFrame(rows, SCHEMA).cache()


def test_micro_metrics(spark, eval_df):
    row = micro_metrics(eval_df).collect()[0]
    # correct=2, pred=3, target=4
    assert row["n_correct"] == 2 and row["n_pred"] == 3 and row["n_target"] == 4
    assert row["precision"] == pytest.approx(2 / 3)
    assert row["recall"] == pytest.approx(0.5)
    p, r = 2 / 3, 0.5
    assert row["f1"] == pytest.approx(2 * p * r / (p + r))


def test_micro_zero_division(spark):
    # reference semantics: empty denominator → 0.0 (triplet_set_recall.py:48-52)
    df = spark.createDataFrame([(1, [], [])], SCHEMA)
    row = micro_metrics(df).collect()[0]
    assert row["precision"] == 0.0 and row["recall"] == 0.0 and row["f1"] == 0.0
    df2 = spark.createDataFrame([(1, [t("a", "r", "b")], [])], SCHEMA)
    row2 = micro_metrics(df2).collect()[0]
    assert row2["precision"] == 0.0 and row2["recall"] == 0.0 and row2["f1"] == 0.0


def test_per_relation_and_macro(spark, eval_df):
    per = {r["rel"]: r for r in per_relation_metrics(eval_df).collect()}
    # ra: correct 2 (s1,s4), pred 2, target 2 → P=R=F1=1
    assert per["ra"]["precision"] == 1.0 and per["ra"]["recall"] == 1.0
    # rb: pred 2 (s2,s5-pred? no: sample3 pred empty) → pred {s2-rb}, target {s5-rb}, correct 0
    assert per["rb"]["n_pred"] == 1 and per["rb"]["n_target"] == 1 and per["rb"]["n_correct"] == 0
    # rc: pred 0, target 1 → P=0 (other side nonempty), R=0
    assert per["rc"]["precision"] == 0.0 and per["rc"]["recall"] == 0.0
    macro = macro_metrics(eval_df).collect()[0]
    assert macro["n_relations"] == 3
    assert macro["macro_f1"] == pytest.approx((1.0 + 0.0 + 0.0) / 3)


def test_bucket_metrics(spark, eval_df):
    train = spark.createDataFrame(
        [("ra", 8), ("rb", 2)], ["rel", "count"]
    )  # ra → bucket 3, rb → bucket 1, rc unseen → -1
    rows = {r["bucket"]: r for r in bucket_metrics(eval_df, train).collect()}
    assert set(rows) == {3, 1, -1}
    assert rows[3]["precision"] == 1.0
    assert rows[-1]["n_target"] == 1 and rows[-1]["recall"] == 0.0


def test_zero_shot_metrics(spark, eval_df):
    groups = spark.createDataFrame(
        [("ra", "seen"), ("rc", "dropped")], ["rel", "group"]
    )  # rb missing → defaults to seen
    rows = {r["group"]: r for r in zero_shot_metrics(eval_df, groups).collect()}
    assert set(rows) == {"seen", "dropped"}
    assert rows["dropped"]["n_target"] == 1 and rows["dropped"]["n_pred"] == 0
    assert rows["seen"]["n_correct"] == 2


def test_relation_occurrences_and_coverage(spark, eval_df):
    occ = {r["rel"]: r["count"] for r in relation_occurrences(eval_df).collect()}
    assert occ == {"ra": 2, "rb": 1, "rc": 1}
    cov = sorted(r["rel"] for r in relation_coverage(eval_df).collect())
    assert cov == ["rc"]  # rc in targets, never predicted; rb IS predicted


# ---------------------------------------------------------------------------
# KILT filters
# ---------------------------------------------------------------------------

KILT_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("instance_matching_status", StringType()),
        StructField("surface_triples", ArrayType(TRIPLE)),
        StructField("target", StringType()),
    ]
)


@pytest.fixture(scope="module")
def kilt_df(spark):
    rows = [
        (1, "title", [t("a", "r1", "b")], ""),
        (2, "label", [t("a", "r2", "b")], ""),
        (3, "no_match", [t("a", "r1", "b"), t("c", "r3", "d")], ""),
        (4, "title", [t("a", "r3", "b")], ""),
    ]
    return spark.createDataFrame(rows, KILT_SCHEMA).cache()


def test_filter_matching_status(spark, kilt_df):
    assert {r["id"] for r in filter_matching_status(kilt_df).collect()} == {1, 4}
    both = filter_matching_status(kilt_df, ("title", "label"))
    assert {r["id"] for r in both.collect()} == {1, 2, 4}


def test_filter_relations_drop_keep(spark, kilt_df):
    assert {r["id"] for r in filter_relations_drop(kilt_df, ["r3"]).collect()} == {1, 2}


def test_drop_ignored_relations_relinearizes(spark, kilt_df):
    out = {r["id"]: r for r in drop_ignored_relations(kilt_df, ["r3"]).collect()}
    assert set(out) == {1, 2, 3}  # sample 4 became empty → dropped (F5)
    assert [tuple(x) for x in out[3]["surface_triples"]] == [("a", "r1", "b")]
    assert out[3]["target"] == " <sub> a <rel> r1 <obj> b <et>"


def test_per_relation_counts_null_and_separator_fields(spark):
    """Triple sets compare as structs: a NULL field or a field containing
    ␞ or ␀ must neither split one relation's counts across groups, nor
    make n_correct exceed n_pred or n_target, nor let two different
    triples match because their joined ``s␞r␞o`` strings are equal."""
    rows = [
        # rel containing the separator, present in both sides
        (1, [t("a", "x␞y", "b")], [t("a", "x␞y", "b")]),
        # NULL object: distinct structs that a NULL-skipping key would
        # collide; only one is shared
        (2, [t("a", "rel", None), t("a", None, "rel")], [t("a", "rel", None)]),
    ]
    out = {r["rel"]: r for r in per_relation_metrics(spark.createDataFrame(rows, SCHEMA)).collect()}
    assert out["x␞y"]["n_correct"] == 1 and out["x␞y"]["n_pred"] == 1
    assert out["rel"]["n_correct"] == 1 and out["rel"]["n_pred"] == 1
    for r in out.values():
        assert r["n_correct"] <= min(r["n_pred"], r["n_target"])

    # no equal triple on either row, but equal s␞r␞o strings (with a NULL
    # field spelled ␀): nothing is correct
    collide = spark.createDataFrame([
        (3, [t("a", "x␞y", "b")], [t("a␞x", "y", "b")]),
        (4, [t("a", None, "b")], [t("a", "␀", "b")]),
    ], SCHEMA)
    micro = micro_metrics(collide).first()
    assert (micro["n_correct"], micro["n_pred"], micro["n_target"]) == (0, 2, 2)
    per_rel = per_relation_metrics(collide).collect()
    assert {r["rel"] for r in per_rel} == {"x␞y", "y", None, "␀"}
    for r in per_rel:
        assert r["n_correct"] <= min(r["n_pred"], r["n_target"])


def test_multinomial_bootstrap_exact_totals(spark):
    """The multinomial mode must resample EXACTLY n datapoints per run
    (the reference's random.choices(range(n), k=n) invariant) — verified
    by replicating the deterministic hash draws in pure Python and
    comparing per-run weighted totals against a hand-computed resample."""
    import hashlib

    from genie_spark.metrics import bootstrap_micro_multinomial

    def t(s, r, o):
        return {"s": s, "r": r, "o": o}

    rows = [
        (1, [t("a", "r", "b")], [t("a", "r", "b")]),
        (2, [t("c", "r", "d")], []),
        (3, [], [t("e", "r", "f")]),
        (4, [t("g", "r", "h"), t("i", "r", "j")], [t("g", "r", "h")]),
    ]
    df = spark.createDataFrame(
        rows, "id int, pred array<struct<s:string,r:string,o:string>>, "
        "target array<struct<s:string,r:string,o:string>>"
    )
    n, n_runs = len(rows), 7
    got = {r["metric"]: (r["mean"], r["std"]) for r in
           bootstrap_micro_multinomial(df, n_runs=n_runs).collect()}

    # pure-Python twin of the hash draws + estimator
    from genie_spark.datapipe.hashes import (
        MINHASH_M31,
        _LO_MASK,
        _MIX_A,
        _MIX_B,
        _MIX_C,
    )

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def mix(h, r):
        a = (_MIX_A * (2 * r + 1)) % MINHASH_M31 + 1
        b = (_MIX_B * (2 * r + 1)) % MINHASH_M31 + 1
        return ((a * (h >> 30) + _MIX_C) % MINHASH_M31) * (1 << 31) + (
            (b * (h & _LO_MASK) + _MIX_C) % MINHASH_M31
        )

    per_sample = {1: (1, 1, 1), 2: (0, 1, 0), 3: (0, 0, 1), 4: (1, 2, 1)}
    # ids sorted -> j = id-1
    stats = {"precision": [], "recall": [], "f1": []}
    for run in range(n_runs):
        picks = [mix(h60(str(j)), run) % n for j in range(n)]
        assert len(picks) == n  # exact per-run total
        c = sum(per_sample[p + 1][0] for p in picks)
        p_ = sum(per_sample[p + 1][1] for p in picks)
        tt = sum(per_sample[p + 1][2] for p in picks)
        prec = 0.0 if p_ == 0 else c / p_
        rec = 0.0 if tt == 0 else c / tt
        f1 = 0.0 if prec + rec == 0 else 2 * prec * rec / (prec + rec)
        stats["precision"].append(prec)
        stats["recall"].append(rec)
        stats["f1"].append(f1)

    import statistics

    for m, vals in stats.items():
        assert got[m][0] == pytest.approx(statistics.mean(vals))
        assert got[m][1] == pytest.approx(statistics.stdev(vals))  # sample std


def test_sequence_nll_forced_scoring():
    """A9 — sequence_nll must (a) reproduce the reference loss formula
    (label_smoothed_nll_loss, utils.py:6-54) from its own per-step
    log-probs, and (b) prefer the decoder's own top beam over a
    corrupted target (the confidence-signal property)."""
    import math

    from genie_spark.constraints import TagCodes
    from genie_spark.decode import (
        DeterministicScorer,
        _log_softmax,
        generate_for_text,
        sequence_nll,
        top_valid_prediction,
    )
    from genie_spark.tokenizer import WordTokenizer
    from genie_spark.trie import trie_from_names

    ents = sorted(["Alice", "Zurich", "Berlin"])
    rels = sorted(["born", "dux"])
    tok = WordTokenizer(ents + rels)
    codes = TagCodes(tok)
    ent_t, rel_t = trie_from_names(ents, tok), trie_from_names(rels, tok)
    scorer = DeterministicScorer(tok)

    text = "Alice born Zurich."
    beams = generate_for_text(text, scorer, tok, codes, ent_t, rel_t, num_beams=2)
    pred = top_valid_prediction(beams)
    ids = tok.encode_pieces(pred) + [tok.eos_token_id]
    nll, smooth, n, loss = sequence_nll(
        text, ids, scorer, tok, codes, ent_t, rel_t
    )
    assert n == len(ids) and nll > 0 and smooth > nll
    # formula: loss = ((1-eps)*nll + eps/(V-1)*smooth) / n
    v = len(tok)
    assert loss == pytest.approx(((0.9 * nll) + (0.1 / (v - 1)) * smooth) / n)

    # corrupted target (swap the object to a worse-matching entity) must
    # score a higher per-token NLL than the decoder's own choice
    worse = pred.replace("Zurich", "Berlin")
    if worse != pred:
        ids2 = tok.encode_pieces(worse) + [tok.eos_token_id]
        nll2, _, n2, _ = sequence_nll(
            text, ids2, scorer, tok, codes, ent_t, rel_t
        )
        assert nll2 / n2 > nll / n

    # manual twin of the first step's contribution
    ctx = scorer.context(text)
    from genie_spark.constraints import DecodeState

    st = DecodeState(codes, ent_t, rel_t)
    lps = _log_softmax(scorer.score(ctx, [], st, list(range(len(tok))), ptr=0))
    first_nll, *_ = sequence_nll(
        text, ids[:1], scorer, tok, codes, ent_t, rel_t
    )
    assert first_nll == pytest.approx(-lps[ids[0]])
    assert not math.isnan(loss)


def test_evaluation_runner_matches_metric_modules(spark):
    """evaluate_dataset (the reference's get_metrics + evaluator shapes)
    must agree with the underlying metric aggregations, score a relation
    restriction of both sides (kilt.filter_triples_on_relations), and use
    the target-occurring averaging set for macro."""
    from genie_spark.evaluation import evaluate_dataset
    from genie_spark.kilt import filter_triples_on_relations

    def t(s, r, o):
        return {"s": s, "r": r, "o": o}

    rows = [
        (1, [t("a", "r1", "b"), t("x", "halluc", "y")], [t("a", "r1", "b")]),
        (2, [t("c", "r2", "d")], [t("c", "r2", "d"), t("e", "r2", "f")]),
        (3, [], [t("g", "r3", "h")]),
    ]
    df = spark.createDataFrame(
        rows, "id int, pred array<struct<s:string,r:string,o:string>>, "
        "target array<struct<s:string,r:string,o:string>>"
    )

    ds = evaluate_dataset(df)
    base = micro_metrics(df).first()
    assert ds["micro"] == {"precision": base["precision"], "recall": base["recall"],
                           "f1": base["f1"]}
    # 'halluc' (pred-only) is not averaged: (r1 + r2 + r3) / 3
    assert ds["macro"]["recall"] == pytest.approx((1.0 + 0.5 + 0.0) / 3)
    assert ds["macro"]["precision"] == pytest.approx((1.0 + 1.0 + 0.0) / 3)
    # the per-relation table evaluate_from_file writes leaves it out too
    per_rel = per_relation_metrics(df).filter("n_target > 0").collect()
    assert {r["rel"] for r in per_rel} == {"r1", "r2", "r3"}

    # restriction applies to BOTH sides (evaluation.py:34-36)
    only_r1 = evaluate_dataset(df.select(
        filter_triples_on_relations(df["pred"], ["r1"]).alias("pred"),
        filter_triples_on_relations(df["target"], ["r1"]).alias("target"),
    ))
    assert only_r1["micro"] == {"precision": 1.0, "recall": 1.0, "f1": 1.0}
    assert only_r1["macro"] == {"precision": 1.0, "recall": 1.0, "f1": 1.0}

    boot = evaluate_dataset(df, num_bootstrap_samples=5)
    assert boot["macro"] == ds["macro"]
    for m, (mean, std) in boot["micro"].items():
        assert 0.0 <= mean <= 1.0 and std >= 0.0


def _prf_py(c, p, t):
    pr = 0.0 if p == 0 else c / p
    rc = 0.0 if t == 0 else c / t
    return pr, rc, 0.0 if pr + rc == 0 else 2 * pr * rc / (pr + rc)


def _twin_counts(rows):
    """Pure-Python (n_correct, n_pred, n_target) of (id, pred, target)
    rows, micro and per relation, over plain tuple sets: the reference's
    semantics (triplet_set_f1.py:14-20, evaluators.py:65-147)."""
    micro, per_rel = [0, 0, 0], {}
    for _, pred, target in rows:
        ps, ts = set(pred), set(target)
        for i, xs in enumerate((ps & ts, ps, ts)):
            micro[i] += len(xs)
            for x in xs:
                per_rel.setdefault(x[1], [0, 0, 0])[i] += 1
    return tuple(micro), {r: tuple(n) for r, n in per_rel.items()}


def _twin_macro(per_rel, target_relations_only):
    scored = [_prf_py(*n) for n in per_rel.values() if n[2] > 0 or not target_relations_only]
    return tuple(sum(s[i] for s in scored) / len(scored) for i in range(3))


def test_one_pass_evaluation_matches_each_metric(spark):
    """evaluate_dataset's single aggregation gives exactly what
    micro_metrics and macro_metrics(target_relations_only=True) give, and
    both match the tuple-set twin, on fields holding the ␞ separator,
    NULL relations, duplicate triples, empty preds and a pred-only
    relation. Micro is the sum of the per-relation rows."""
    from genie_spark.evaluation import evaluate_dataset

    rows = [
        (1, [t("a␞b", "r1", "c"), t("a", "b␞r1", "c")], [t("a␞b", "r1", "c")]),
        (2, [t("x", None, "y"), t("x", None, "y")], [t("x", None, "y"), t("u", "r2", "v")]),
        (3, [], [t("p", "r2", "q"), t("p", "r2", "q")]),
        (4, [t("m", "r3", "n")], []),
        (5, [t("s", None, "o"), t("s", "r2", None)], [t("s", "r2", None)]),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    got = evaluate_dataset(df)
    micro = micro_metrics(df).first()
    macro = macro_metrics(df, target_relations_only=True).first()
    assert got["micro"] == {m: micro[m] for m in ("precision", "recall", "f1")}
    assert got["macro"] == {m: macro[f"macro_{m}"] for m in ("precision", "recall", "f1")}
    twin_micro, twin_rel = _twin_counts(rows)
    assert (micro["n_correct"], micro["n_pred"], micro["n_target"]) == twin_micro == (3, 6, 5)
    assert (micro["precision"], micro["recall"], micro["f1"]) == pytest.approx(_prf_py(*twin_micro))
    assert (macro["macro_precision"], macro["macro_recall"], macro["macro_f1"]) == pytest.approx(
        _twin_macro(twin_rel, True)
    )
    per_rel = per_relation_metrics(df).collect()
    sums = tuple(sum(r[c] for r in per_rel) for c in ("n_correct", "n_pred", "n_target"))
    assert sums == twin_micro


def test_metrics_match_tuple_set_twin_on_random_table(spark):
    """A seeded random table whose fields are drawn from a, b, a␞b, ␀,
    the empty string and NULL (so joined ``s␞r␞o`` strings collide often),
    with duplicate triples, empty sides and pred-only samples: micro,
    per-relation and both macro averaging sets equal the tuple-set twin.
    Everything is read from one collect."""
    import random

    from genie_spark.metrics import micro_macro_metrics

    rng = random.Random(22)
    fields = ["a", "b", "a␞b", "␀", "", None]

    def draw(k, rels):
        return [(rng.choice(fields), rng.choice(rels), rng.choice(fields)) for _ in range(k)]

    rows = []
    for i in range(300):
        target = draw(rng.randint(0, 4), fields)
        target += target[:rng.randint(0, 1)]
        pred = [rng.choice(target) for _ in range(rng.randint(0, len(target)))]
        # "c" is a relation only predictions hold
        rows.append((i, pred + draw(rng.randint(0, 3), fields + ["c"]), target))
    df = spark.createDataFrame(rows, SCHEMA)

    def scores(target_relations_only, prefix):
        return micro_macro_metrics(df, target_relations_only).select(
            *[F.col(c).alias(prefix + c) for c in (
                "n_correct", "n_pred", "n_target", "precision", "recall", "f1",
                "macro_precision", "macro_recall", "macro_f1", "n_relations",
            )]
        )

    got = (
        per_relation_metrics(df)
        .crossJoin(scores(True, "t_"))
        .crossJoin(scores(False, "e_"))
        .collect()
    )
    twin_micro, twin_rel = _twin_counts(rows)
    assert {r["rel"]: (r["n_correct"], r["n_pred"], r["n_target"]) for r in got} == twin_rel
    assert len(got) == len(twin_rel)
    for r in got:
        assert (r["precision"], r["recall"], r["f1"]) == pytest.approx(_prf_py(*twin_rel[r["rel"]]))

    def pick(prefix, *names):
        return tuple(got[0][prefix + n] for n in names)

    for prefix, target_only in (("t_", True), ("e_", False)):
        assert pick(prefix, "n_correct", "n_pred", "n_target") == twin_micro
        assert pick(prefix, "precision", "recall", "f1") == pytest.approx(_prf_py(*twin_micro))
        assert pick(prefix, "macro_precision", "macro_recall", "macro_f1") == pytest.approx(
            _twin_macro(twin_rel, target_only)
        )
        assert got[0][prefix + "n_relations"] == sum(
            1 for n in twin_rel.values() if n[2] > 0 or not target_only
        )
    # the table holds what it is meant to: matches, a pred-only relation,
    # and different triples whose joined s␞r␞o strings are equal
    def key(x):
        return "␞".join("␀" if f is None else f for f in x)

    assert twin_micro[0] > 0 and twin_rel["c"][2] == 0
    assert any(
        key(x) == key(y) and x != y for _, pred, target in rows for x in pred for y in target
    )


def test_evaluate_dataset_is_one_action(spark, tmp_path):
    """An unbootstrapped evaluate_dataset over a pipeline-shaped input
    (extracted-output scan, groupBy(url), join with the gold pages) runs
    its input once: at most five jobs, where a micro action plus a macro
    action ran ten."""
    from genie_spark.evaluation import evaluate_dataset

    tri = "array<struct<s:string,r:string,o:string>>"
    spark.createDataFrame(
        [(f"u{i % 7}", i % 4, [t(f"s{i}", f"r{i % 3}", "o")]) for i in range(40)],
        f"url string, chunk int, pred_triples {tri}",
    ).write.partitionBy("chunk").parquet(str(tmp_path / "extracted"))
    spark.createDataFrame(
        [(f"u{i}", "en", [t(f"s{i}", f"r{i % 3}", "o")]) for i in range(9)],
        f"url string, lang string, gold {tri}",
    ).write.parquet(str(tmp_path / "pages"))
    extracted = spark.read.parquet(str(tmp_path / "extracted"))
    pred = extracted.groupBy("url").agg(F.flatten(F.collect_list("pred_triples")).alias("pred"))
    df = (
        spark.read.parquet(str(tmp_path / "pages"))
        .filter(F.col("lang") == "en")
        .select("url", F.col("gold").alias("target"))
        .join(pred, "url", "left")
        .withColumn("pred", F.coalesce("pred", F.array().cast(tri)))
    )
    sc = spark.sparkContext
    sc.setJobGroup("evaluate-dataset", "one evaluate_dataset")
    try:
        got = evaluate_dataset(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("evaluate-dataset")
    assert len(jobs) <= 5, f"evaluate_dataset ran {len(jobs)} jobs"
    assert got["micro"]["precision"] == micro_metrics(df).first()["precision"]


def test_cohen_kappa_ppm_is_exact_at_small_n(spark):
    """pe_ppm and kappa_ppm are the truncated quotients ``num·1e6 div
    den`` at any N. Below N = 1000, scaling the denominator down by 1e6
    first truncated it to 0 (then clamped to 1), returning the unscaled
    numerator: at the registry's N = 500 that was kappa_ppm -1438
    instead of -8984."""
    import __spark_entry__ as entry
    from genie_spark.metrics import cohen_kappa

    def expected(cells):
        n = sum(cells.values())
        agree = sum(v for (a, b), v in cells.items() if a == b)
        classes = {c for pair in cells for c in pair}
        tt = {k: sum(v for (a, _), v in cells.items() if a == k) for k in classes}
        pp = {k: sum(v for (_, b), v in cells.items() if b == k) for k in classes}
        s = sum(tt[k] * pp[k] for k in classes)

        def div(num, den):  # truncates toward zero, as Spark div and DuckDB //
            q = abs(num) * 1_000_000 // den
            return -q if num < 0 else q

        return n, agree, div(s, n * n), div(agree * n - s, n * n - s)

    cells = {("en", "en"): 3, ("en", "de"): 4, ("de", "en"): 5, ("de", "de"): 1, ("fr", "de"): 2}
    df = spark.createDataFrame(
        [(a, b) for (a, b), v in cells.items() for _ in range(v)], ["lang", "lang_guess"]
    )
    r = cohen_kappa(df).first()
    assert (r["n"], r["agree"], r["pe_ppm"], r["kappa_ppm"]) == expected(cells)
    assert r["kappa_ppm"] < 0

    # the registry entry at its default scale (SF_DEFAULT): 500 documents
    reg = entry.queries()["cohen_kappa"](spark, entry.SF_DEFAULT).first()
    assert (reg["n"], reg["agree"], reg["pe_ppm"], reg["kappa_ppm"]) == (500, 177, 359752, -8984)
