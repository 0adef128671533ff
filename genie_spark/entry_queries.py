"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

One entry per implemented operator family (SURVEY.md §2 + the
training-data pipeline ops). Each Spark callable takes (spark, sf_dir)
and must produce EXACTLY the rows of its ORACLES[...] DuckDB SQL on the
same parquet tables (order-insensitive value-hash): identical column
names, integer columns cast to bigint, floats rounded to 6 via the same
formulas, and all hashing through the cross-engine ``h60`` primitive.

The five constrained-generation queries have no static SQL here:
``__spark_entry__.oracle_sql()`` adds their oracles, generated from the
pure-Python twin (genie_spark/oracle_twin.py).
"""

from __future__ import annotations

import os
from typing import Callable, Dict

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .canonicalize import ASOF_EPOCH, ER_MAX_DIST, FUZZY_BLOCK_DF
from .datapipe.dedup import MINHASH_BANDS, MINHASH_N, MINHASH_T
from .datapipe.graph import RULE_MIN_CONF, RULE_MIN_SUP, TRANSE_NEG_MOD

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}


def _register(name: str, oracle: str = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# shared derivations: triple sets from lineitem (sample = order;
# relation = l_returnflag; object = part). target = shipped before 1996,
# pred = quantity > 25 — two deterministic, overlapping triple sets.
# ---------------------------------------------------------------------------

_CUT = "1996-01-01"
_QTY = 25

_TRIPLES_SQL = f"""
  trg AS (SELECT DISTINCT l_orderkey, l_returnflag, l_partkey FROM lineitem
          WHERE l_shipdate < TIMESTAMP '{_CUT}'),
  prd AS (SELECT DISTINCT l_orderkey, l_returnflag, l_partkey FROM lineitem
          WHERE l_quantity > {_QTY})
"""


def _target_sro(spark: SparkSession, sf_dir: str, *extra: Column) -> DataFrame:
    """The Spark side of ``_TRIPLES_SQL``'s ``trg``: lineitem shipped
    before ``_CUT`` as ``(s, r, o)`` = (l_orderkey, l_returnflag,
    l_partkey), then the ``extra`` columns. Not deduplicated."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") < _CUT)
    return li.select(
        F.col("l_orderkey").alias("s"),
        F.col("l_returnflag").alias("r"),
        F.col("l_partkey").alias("o"),
        *extra,
    )


def _pred_target_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per order: pred/target as array<struct<s,r,o>> (exercises
    the real metrics module input shape)."""
    li = _t(spark, sf_dir, "lineitem")
    def sets(cond, name):
        return (
            li.filter(cond)
            .select(
                "l_orderkey",
                F.struct(
                    F.col("l_orderkey").cast("string").alias("s"),
                    F.col("l_returnflag").alias("r"),
                    F.col("l_partkey").cast("string").alias("o"),
                ).alias("t"),
            )
            .groupBy("l_orderkey")
            .agg(F.array_distinct(F.collect_list("t")).alias(name))
        )
    trg = sets(F.col("l_shipdate") < _CUT, "target")
    prd = sets(F.col("l_quantity") > _QTY, "pred")
    empty = F.array().cast("array<struct<s:string,r:string,o:string>>")
    return (
        trg.join(prd, "l_orderkey", "full")
        .select(
            F.col("l_orderkey").alias("id"),
            F.coalesce("pred", empty).alias("pred"),
            F.coalesce("target", empty).alias("target"),
        )
    )


_PRF_SQL = """
  c AS (SELECT count(*) AS n FROM trg JOIN prd USING (l_orderkey, l_returnflag, l_partkey)),
  tots AS (SELECT (SELECT n FROM c) AS n_correct,
                  (SELECT count(*) FROM prd) AS n_pred,
                  (SELECT count(*) FROM trg) AS n_target)
"""


# -- A1: micro precision/recall/F1 ------------------------------------------

@_register(
    "micro_prf",
    f"""
WITH {_TRIPLES_SQL}, {_PRF_SQL}
SELECT round(CASE WHEN n_pred = 0 THEN 0.0 ELSE n_correct::DOUBLE / n_pred END, 6) AS precision,
       round(CASE WHEN n_target = 0 THEN 0.0 ELSE n_correct::DOUBLE / n_target END, 6) AS recall,
       round(CASE WHEN (CASE WHEN n_pred = 0 THEN 0.0 ELSE n_correct::DOUBLE / n_pred END)
                     + (CASE WHEN n_target = 0 THEN 0.0 ELSE n_correct::DOUBLE / n_target END) = 0
             THEN 0.0
             ELSE 2 * (CASE WHEN n_pred = 0 THEN 0.0 ELSE n_correct::DOUBLE / n_pred END)
                    * (CASE WHEN n_target = 0 THEN 0.0 ELSE n_correct::DOUBLE / n_target END)
                  / ((CASE WHEN n_pred = 0 THEN 0.0 ELSE n_correct::DOUBLE / n_pred END)
                     + (CASE WHEN n_target = 0 THEN 0.0 ELSE n_correct::DOUBLE / n_target END)) END, 6) AS f1,
       n_correct::BIGINT AS n_correct, n_pred::BIGINT AS n_pred, n_target::BIGINT AS n_target
FROM tots
""",
)
def micro_prf(spark, sf_dir):
    from .metrics import micro_metrics

    df = micro_metrics(_pred_target_df(spark, sf_dir))
    return df.select(
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
        F.col("n_correct").cast("bigint").alias("n_correct"),
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("n_target").cast("bigint").alias("n_target"),
    )


# -- A2: per-relation (macro) metrics ----------------------------------------

_PER_REL_SQL = f"""
WITH {_TRIPLES_SQL},
rels AS (SELECT l_returnflag FROM trg UNION SELECT l_returnflag FROM prd),
cnt AS (
  SELECT r.l_returnflag AS rel,
         (SELECT count(*) FROM trg t JOIN prd p USING (l_orderkey, l_returnflag, l_partkey)
          WHERE t.l_returnflag = r.l_returnflag) AS n_correct,
         (SELECT count(*) FROM prd WHERE l_returnflag = r.l_returnflag) AS n_pred,
         (SELECT count(*) FROM trg WHERE l_returnflag = r.l_returnflag) AS n_target
  FROM rels r
),
scored AS (
  SELECT rel,
         CASE WHEN n_pred = 0 THEN 0.0 ELSE n_correct::DOUBLE / n_pred END AS p,
         CASE WHEN n_target = 0 THEN 0.0 ELSE n_correct::DOUBLE / n_target END AS r2,
         n_correct, n_pred, n_target
  FROM cnt
)
"""


@_register(
    "macro_by_relation",
    _PER_REL_SQL
    + """
SELECT rel, round(p, 6) AS precision, round(r2, 6) AS recall,
       round(CASE WHEN p + r2 = 0 THEN 0.0 ELSE 2 * p * r2 / (p + r2) END, 6) AS f1,
       n_correct::BIGINT AS n_correct, n_pred::BIGINT AS n_pred, n_target::BIGINT AS n_target
FROM scored
""",
)
def macro_by_relation(spark, sf_dir):
    from .metrics import per_relation_metrics

    df = per_relation_metrics(_pred_target_df(spark, sf_dir))
    return df.select(
        "rel",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
        F.col("n_correct").cast("bigint").alias("n_correct"),
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("n_target").cast("bigint").alias("n_target"),
    )


@_register(
    "macro_mean",
    _PER_REL_SQL
    + """
SELECT round(avg(p), 6) AS macro_precision,
       round(avg(r2), 6) AS macro_recall,
       round(avg(CASE WHEN p + r2 = 0 THEN 0.0 ELSE 2 * p * r2 / (p + r2) END), 6) AS macro_f1,
       count(*)::BIGINT AS n_relations
FROM scored
""",
)
def macro_mean(spark, sf_dir):
    """A2 final form: unweighted mean of per-relation micro scores
    (reference evaluation.py:67-78)."""
    from .metrics import macro_metrics

    df = macro_metrics(_pred_target_df(spark, sf_dir))
    return df.select(
        F.round("macro_precision", 6).alias("macro_precision"),
        F.round("macro_recall", 6).alias("macro_recall"),
        F.round("macro_f1", 6).alias("macro_f1"),
        F.col("n_relations").cast("bigint").alias("n_relations"),
    )


@_register(
    "macro_mean_target_rels",
    _PER_REL_SQL
    + """
SELECT round(avg(p), 6) AS macro_precision,
       round(avg(r2), 6) AS macro_recall,
       round(avg(CASE WHEN p + r2 = 0 THEN 0.0 ELSE 2 * p * r2 / (p + r2) END), 6) AS macro_f1,
       count(*)::BIGINT AS n_relations
FROM scored WHERE n_target > 0
""",
)
def macro_mean_target_rels(spark, sf_dir):
    """A2, reference averaging set: only relations with ≥1 target
    occurrence enter the mean (MacroMetricsEvaluator,
    evaluators.py:84-87) — a hallucinated pred-only relation adds no
    zero-F1 group."""
    from .metrics import macro_metrics

    df = macro_metrics(_pred_target_df(spark, sf_dir), target_relations_only=True)
    return df.select(
        F.round("macro_precision", 6).alias("macro_precision"),
        F.round("macro_recall", 6).alias("macro_recall"),
        F.round("macro_f1", 6).alias("macro_f1"),
        F.col("n_relations").cast("bigint").alias("n_relations"),
    )


# -- A3: bucketed metrics -----------------------------------------------------

@_register(
    "bucket_metrics",
    _PER_REL_SQL.replace("\nSELECT rel,", "\nSELECT rel,", 1)
    + f""",
train AS (SELECT l_returnflag AS rel, count(*) AS cnt FROM lineitem
          WHERE l_linenumber = 1 GROUP BY 1),
bucketed AS (
  SELECT coalesce(floor(log2(t.cnt))::BIGINT, -1) AS bucket,
         s.n_correct, s.n_pred, s.n_target
  FROM scored s LEFT JOIN train t ON s.rel = t.rel
),
agg AS (
  SELECT bucket, sum(n_correct) AS n_correct, sum(n_pred) AS n_pred,
         sum(n_target) AS n_target, count(*) AS n_relations
  FROM bucketed GROUP BY 1
)
SELECT bucket,
       round(CASE WHEN n_pred = 0 THEN 0.0 ELSE n_correct::DOUBLE / n_pred END, 6) AS precision,
       round(CASE WHEN n_target = 0 THEN 0.0 ELSE n_correct::DOUBLE / n_target END, 6) AS recall,
       n_relations::BIGINT AS n_relations,
       n_correct::BIGINT AS n_correct, n_pred::BIGINT AS n_pred, n_target::BIGINT AS n_target
FROM agg
""",
)
def bucket_metrics_q(spark, sf_dir):
    from .metrics import bucket_metrics

    li = _t(spark, sf_dir, "lineitem")
    train = (
        li.filter(F.col("l_linenumber") == 1)
        .groupBy(F.col("l_returnflag").alias("rel"))
        .count()
    )
    df = bucket_metrics(_pred_target_df(spark, sf_dir), train)
    return df.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.col("n_relations").cast("bigint").alias("n_relations"),
        F.col("n_correct").cast("bigint").alias("n_correct"),
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("n_target").cast("bigint").alias("n_target"),
    )


# -- A4: zero-shot relation-group metrics ------------------------------------

_ZS_GROUPS = [("A", "seen"), ("N", "ignored"), ("R", "dropped")]


@_register(
    "zero_shot_groups",
    _PER_REL_SQL
    + f""",
gmap AS (SELECT * FROM (VALUES {', '.join(f"('{r}','{g}')" for r, g in _ZS_GROUPS)}) AS v(rel, grp)),
agg AS (
  SELECT coalesce(g.grp, 'seen') AS "group",
         sum(s.n_correct) AS n_correct, sum(s.n_pred) AS n_pred, sum(s.n_target) AS n_target
  FROM scored s LEFT JOIN gmap g ON s.rel = g.rel GROUP BY 1
)
SELECT "group",
       round(CASE WHEN n_pred = 0 THEN 0.0 ELSE n_correct::DOUBLE / n_pred END, 6) AS precision,
       round(CASE WHEN n_target = 0 THEN 0.0 ELSE n_correct::DOUBLE / n_target END, 6) AS recall,
       n_correct::BIGINT AS n_correct, n_pred::BIGINT AS n_pred, n_target::BIGINT AS n_target
FROM agg
""",
)
def zero_shot_groups(spark, sf_dir):
    from .metrics import zero_shot_metrics

    groups = spark.createDataFrame(_ZS_GROUPS, ["rel", "group"])
    df = zero_shot_metrics(_pred_target_df(spark, sf_dir), groups)
    return df.select(
        "group",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.col("n_correct").cast("bigint").alias("n_correct"),
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("n_target").cast("bigint").alias("n_target"),
    )


@_register(
    "micro_recall_only",
    f"""
WITH {_TRIPLES_SQL}, {_PRF_SQL}
SELECT round(CASE WHEN n_target = 0 THEN 0.0 ELSE n_correct::DOUBLE / n_target END, 6) AS recall,
       n_correct::BIGINT AS n_correct, n_target::BIGINT AS n_target
FROM tots
""",
)
def micro_recall_only(spark, sf_dir):
    """FewRel evaluation mode (results_full.yaml:76-80): only recall is
    computable when the gold annotation is one triple per sample."""
    from .metrics import micro_metrics

    out = micro_metrics(_pred_target_df(spark, sf_dir), recall_only=True)
    return out.select(
        F.round("recall", 6).alias("recall"),
        F.col("n_correct").cast("bigint").alias("n_correct"),
        F.col("n_target").cast("bigint").alias("n_target"),
    )


# -- A5: deterministic bootstrap ----------------------------------------------

_N_BOOT = 20

_PRF_CASES = """
  SELECT CASE WHEN p = 0 THEN 0.0 ELSE c::DOUBLE / p END AS precision,
         CASE WHEN t = 0 THEN 0.0 ELSE c::DOUBLE / t END AS recall,
         CASE WHEN (CASE WHEN p = 0 THEN 0.0 ELSE c::DOUBLE / p END)
                 + (CASE WHEN t = 0 THEN 0.0 ELSE c::DOUBLE / t END) = 0 THEN 0.0
              ELSE 2 * (CASE WHEN p = 0 THEN 0.0 ELSE c::DOUBLE / p END)
                     * (CASE WHEN t = 0 THEN 0.0 ELSE c::DOUBLE / t END)
                   / ((CASE WHEN p = 0 THEN 0.0 ELSE c::DOUBLE / p END)
                      + (CASE WHEN t = 0 THEN 0.0 ELSE c::DOUBLE / t END)) END AS f1
  FROM per_run
"""


def _multinomial_draw_sql():
    """h60(j) base hash + salt-keyed affine remix — the DuckDB twins of
    the Spark expressions in metrics.bootstrap_micro_multinomial."""
    from .datapipe.hashes import affine_mix_sql, h60_sql

    return {
        "h_base": h60_sql("j::VARCHAR"),
        "mix": affine_mix_sql("i.h", "r.run"),
    }


@_register(
    "bootstrap_micro_multinomial",
    f"""
WITH {_TRIPLES_SQL},
per_order AS (
  SELECT o.l_orderkey,
         coalesce(c.n, 0) AS n_correct, coalesce(p.n, 0) AS n_pred, coalesce(t.n, 0) AS n_target
  FROM (SELECT l_orderkey FROM trg UNION SELECT l_orderkey FROM prd) o
  LEFT JOIN (SELECT l_orderkey, count(*) n FROM trg JOIN prd USING (l_orderkey, l_returnflag, l_partkey) GROUP BY 1) c USING (l_orderkey)
  LEFT JOIN (SELECT l_orderkey, count(*) n FROM prd GROUP BY 1) p USING (l_orderkey)
  LEFT JOIN (SELECT l_orderkey, count(*) n FROM trg GROUP BY 1) t USING (l_orderkey)
),
idx AS (SELECT *, row_number() OVER (ORDER BY l_orderkey) - 1 AS j FROM per_order),
nn AS (SELECT count(*) AS n FROM per_order),
runs AS (SELECT unnest(generate_series(0, {_N_BOOT - 1})) AS run),
based AS (SELECT j, {{h_base}} AS h FROM idx),
draws AS (
  SELECT r.run, ({{mix}}) % n.n AS pick
  FROM based i CROSS JOIN runs r CROSS JOIN nn n
),
w AS (SELECT run, pick, count(*) AS wt FROM draws GROUP BY 1, 2),
per_run AS (
  SELECT w.run, sum(i.n_correct * wt) AS c, sum(i.n_pred * wt) AS p, sum(i.n_target * wt) AS t
  FROM w JOIN idx i ON w.pick = i.j GROUP BY 1
),
scored AS ({_PRF_CASES})
SELECT 'precision' AS metric, round(avg(precision), 6) AS mean, round(stddev_samp(precision), 6) AS std FROM scored
UNION ALL
SELECT 'recall', round(avg(recall), 6), round(stddev_samp(recall), 6) FROM scored
UNION ALL
SELECT 'f1', round(avg(f1), 6), round(stddev_samp(f1), 6) FROM scored
""".format(**_multinomial_draw_sql()),
)
def bootstrap_micro_multinomial_q(spark, sf_dir):
    """Exact multinomial bootstrap (reference evaluation.py:12-26 estimator
    form: n draws with replacement per run, sample std) — deterministic
    hash draws, no RNG."""
    from .metrics import bootstrap_micro_multinomial

    df = bootstrap_micro_multinomial(_pred_target_df(spark, sf_dir), n_runs=_N_BOOT)
    return df.select(
        "metric", F.round("mean", 6).alias("mean"), F.round("std", 6).alias("std")
    )


# -- A6/A7: occurrence + status tallies ---------------------------------------

@_register(
    "relation_occurrence",
    "SELECT event_type AS rel, count(*)::BIGINT AS count FROM events GROUP BY 1",
)
def relation_occurrence(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("rel"))
        .agg(F.count("*").cast("bigint").alias("count"))
    )


@_register(
    "status_tally",
    "SELECT o_orderstatus AS status, count(*)::BIGINT AS count FROM orders GROUP BY 1",
)
def status_tally(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count("*").cast("bigint").alias("count"))
    )


# -- A8/SO2: coverage via anti-join -------------------------------------------

@_register(
    "relation_coverage",
    f"""
WITH {_TRIPLES_SQL}
SELECT l_returnflag AS rel FROM trg
EXCEPT
SELECT l_returnflag AS rel FROM prd
""",
)
def relation_coverage_q(spark, sf_dir):
    from .metrics import relation_coverage

    return relation_coverage(_pred_target_df(spark, sf_dir))


# -- W1/W2: top-k per group ----------------------------------------------------

@_register(
    "topk_per_group",
    """
SELECT user_id, event_id, value FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def topk_per_group(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )


# -- J1-analog: broadcast canonicalization join chain --------------------------

@_register(
    "canonicalize_join",
    """
SELECT r.r_name, count(*)::BIGINT AS n_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1
""",
)
def canonicalize_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(F.count("*").cast("bigint").alias("n_customers"))
    )


# -- J6: dimension dedup --------------------------------------------------------

@_register(
    "dedup_dimension",
    """
WITH uniq AS (SELECT p_name FROM part GROUP BY 1 HAVING count(*) = 1)
SELECT p.p_partkey AS id, p.p_name AS name
FROM part p JOIN uniq u ON p.p_name = u.p_name
""",
)
def dedup_dimension(spark, sf_dir):
    from .canonicalize import dedup_catalog

    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        F.col("p_name").alias("name"),
        F.lit("en_title").alias("provenance"),
    )
    return dedup_catalog(part).select("id", "name")


# -- X1/X2: linearization round-trip --------------------------------------------

@_register(
    "linearize_roundtrip",
    """
WITH tr AS (SELECT DISTINCT l_orderkey,
                   l_orderkey::VARCHAR AS s, l_returnflag AS r, l_partkey::VARCHAR AS o
            FROM lineitem),
lin AS (SELECT l_orderkey,
               string_agg(' <sub> ' || s || ' <rel> ' || r || ' <obj> ' || o || ' <et>', ''
                          ORDER BY s, r, o) AS lin,
               count(*) AS n
        FROM tr GROUP BY 1)
SELECT l_orderkey, n::BIGINT AS n_parsed, md5(lin) AS lin_md5 FROM lin
""",
)
def linearize_roundtrip(spark, sf_dir):
    from .triples import format_triples_col, parse_triples_col

    li = _t(spark, sf_dir, "lineitem")
    triples = (
        li.select(
            "l_orderkey",
            F.struct(
                F.col("l_orderkey").cast("string").alias("s"),
                F.col("l_returnflag").alias("r"),
                F.col("l_partkey").cast("string").alias("o"),
            ).alias("t"),
        )
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.array_distinct(F.collect_list("t"))).alias("triples"))
        # format+parse below are interpreted HOFs over every triple —
        # compute-bound, so spread past AQE's byte-light coalescing
        .repartition(spark.sparkContext.defaultParallelism)
    )
    lin = triples.withColumn("lin", format_triples_col(F.col("triples")))
    parsed = lin.withColumn("parsed", parse_triples_col("lin"))
    return parsed.select(
        "l_orderkey",
        F.size("parsed").cast("bigint").alias("n_parsed"),
        F.md5("lin").alias("lin_md5"),
    )


# -- P1/F1/F2/F4/F5: KILT dataset-load filter pipeline ----------------------------

_KILT_DROP = "R"    # F2: drop the whole sample if any triple has this relation
_KILT_IGNORE = "N"  # F4: remove individual triples with this relation


@_register(
    "kilt_filters",
    f"""
WITH tr AS (SELECT DISTINCT l_orderkey,
                   l_orderkey::VARCHAR AS s, l_returnflag AS r, l_partkey::VARCHAR AS o
            FROM lineitem),
samples AS (
  SELECT t.l_orderkey AS id,
         CASE o.o_orderstatus WHEN 'F' THEN 'title' WHEN 'O' THEN 'label' ELSE 'none' END AS status,
         t.s, t.r, t.o
  FROM tr t JOIN orders o ON t.l_orderkey = o.o_orderkey
),
f1 AS (SELECT * FROM samples WHERE status IN ('title', 'label')),
f2 AS (SELECT * FROM f1 WHERE id NOT IN (SELECT id FROM f1 WHERE r = '{_KILT_DROP}')),
f4 AS (SELECT * FROM f2 WHERE r <> '{_KILT_IGNORE}'),
lin AS (SELECT id,
               count(*) AS n_triples,
               string_agg(' <sub> ' || s || ' <rel> ' || r || ' <obj> ' || o || ' <et>', ''
                          ORDER BY s, r, o) AS target
        FROM f4 GROUP BY 1)
SELECT id, n_triples::BIGINT AS n_triples, md5(target) AS target_md5 FROM lin
""",
)
def kilt_filters(spark, sf_dir):
    """F1 matching-status filter → F2 relations-drop → F4 per-triple ignore
    + re-linearize → F5 empty-target drop (reference datasets.py:92-201),
    over a KILT-shaped table derived from lineitem/orders."""
    from .kilt import (
        drop_ignored_relations,
        filter_matching_status,
        filter_relations_drop,
    )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    samples = (
        li.select(
            "l_orderkey",
            F.struct(
                F.col("l_orderkey").cast("string").alias("s"),
                F.col("l_returnflag").alias("r"),
                F.col("l_partkey").cast("string").alias("o"),
            ).alias("t"),
        )
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.array_distinct(F.collect_list("t"))).alias("surface_triples"))
        .join(orders, F.col("l_orderkey") == orders["o_orderkey"])
        .select(
            F.col("l_orderkey").alias("id"),
            F.when(F.col("o_orderstatus") == "F", "title")
            .when(F.col("o_orderstatus") == "O", "label")
            .otherwise("none")
            .alias("instance_matching_status"),
            "surface_triples",
        )
        .withColumn("target", F.lit(""))
    )
    out = filter_matching_status(samples, allowed=("title", "label"))
    out = filter_relations_drop(out, [_KILT_DROP])
    out = drop_ignored_relations(out, [_KILT_IGNORE])
    return out.select(
        "id",
        F.size("surface_triples").cast("bigint").alias("n_triples"),
        F.md5("target").alias("target_md5"),
    )


# -- J2: id→surface annotation with match statuses --------------------------------

@_register(
    "annotate_id_triples",
    """
WITH idt AS (
  SELECT DISTINCT 'S' || l_suppkey::VARCHAR AS s_id,
         'P' || l_linenumber::VARCHAR AS r_id,
         'T' || l_partkey::VARCHAR AS o_id
  FROM lineitem
),
ents AS (
  SELECT 'S' || s_suppkey::VARCHAR AS id, s_name AS name, 'en_title' AS provenance FROM supplier
  UNION ALL
  SELECT 'T' || p_partkey::VARCHAR, p_name, 'en_label' FROM part
),
rels AS (SELECT 'P' || n_nationkey::VARCHAR AS id, n_name AS name FROM nation WHERE n_nationkey BETWEEN 1 AND 5),
ann AS (
  SELECT i.s_id, i.r_id, i.o_id,
         es.name AS s, CASE WHEN es.name IS NULL THEN 'no_match'
                            WHEN es.provenance = 'en_title' THEN 'title' ELSE 'label' END AS s_status,
         eo.name AS o, CASE WHEN eo.name IS NULL THEN 'no_match'
                            WHEN eo.provenance = 'en_title' THEN 'title' ELSE 'label' END AS o_status,
         r.name AS r, CASE WHEN r.name IS NULL THEN 'no_match' ELSE 'title' END AS r_status
  FROM idt i LEFT JOIN ents es ON i.s_id = es.id
             LEFT JOIN ents eo ON i.o_id = eo.id
             LEFT JOIN rels r ON i.r_id = r.id
)
SELECT s_id, r_id, o_id, coalesce(s, '') AS s, coalesce(r, '') AS r, coalesce(o, '') AS o,
       s_status, r_status, o_status,
       CASE WHEN s_status = 'no_match' OR r_status = 'no_match' OR o_status = 'no_match' THEN 'no_match'
            WHEN s_status = 'label' OR o_status = 'label' THEN 'label'
            ELSE 'title' END AS triple_status
FROM ann
""",
)
def annotate_id_triples(spark, sf_dir):
    """J2 broadcast annotation join (reference triplet_utils.py:38-68,
    surface_forms_utils.py:180-232): gold id-triples → surface forms with
    per-position and rolled-up match statuses."""
    from .canonicalize import id_to_surface

    li = _t(spark, sf_dir, "lineitem")
    idt = li.select(
        F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s_id"),
        F.concat(F.lit("P"), F.col("l_linenumber").cast("string")).alias("r_id"),
        F.concat(F.lit("T"), F.col("l_partkey").cast("string")).alias("o_id"),
    ).distinct()
    supplier = _t(spark, sf_dir, "supplier").select(
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("id"),
        F.col("s_name").alias("name"),
        F.lit("en_title").alias("provenance"),
    )
    part = _t(spark, sf_dir, "part").select(
        F.concat(F.lit("T"), F.col("p_partkey").cast("string")).alias("id"),
        F.col("p_name").alias("name"),
        F.lit("en_label").alias("provenance"),
    )
    ents = supplier.unionByName(part)
    rels = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey").between(1, 5))
        .select(
            F.concat(F.lit("P"), F.col("n_nationkey").cast("string")).alias("id"),
            F.col("n_name").alias("name"),
        )
    )
    out = id_to_surface(idt, ents, rels)
    # null-free output: unmatched names surface as '' (status columns carry
    # the no_match signal) so cross-engine row hashing never sees NULL
    return out.select(
        "s_id", "r_id", "o_id",
        F.coalesce("s", F.lit("")).alias("s"),
        F.coalesce("r", F.lit("")).alias("r"),
        F.coalesce("o", F.lit("")).alias("o"),
        "s_status", "r_status", "o_status", "triple_status",
    )


# -- X3: sentence splitting (reference REBEL semantics) --------------------------

@_register(
    "sentence_split",
    """
WITH seeded AS (
  SELECT doc_id, replace(text, ' the ', '. the ') AS text FROM documents
),
paras AS (
  SELECT doc_id, p, pidx
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS p,
               generate_subscripts(string_split(text, chr(10)), 1) AS pidx
        FROM seeded)
  WHERE length(p) > 0
),
sents AS (
  SELECT doc_id, pidx, s, sidx
  FROM (SELECT doc_id, pidx,
               unnest(string_split(replace(p, '. ', '.' || chr(1)), chr(1))) AS s,
               generate_subscripts(string_split(replace(p, '. ', '.' || chr(1)), chr(1)), 1) AS sidx
        FROM paras)
  WHERE trim(s) <> ''
),
ordered AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY pidx, sidx) - 1 AS sent_idx,
         regexp_replace(s || ' ', '\\s{2,}', ' ', 'g') AS sent
  FROM sents
)
SELECT doc_id, sent_idx::BIGINT AS sent_idx, md5(sent) AS sent_md5 FROM ordered
""",
)
def sentence_split(spark, sf_dir):
    from .extract import sentences_df

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.replace(F.col("text"), F.lit(" the "), F.lit(". the ")).alias("text")
    )
    out = sentences_df(docs)
    return out.select(
        "doc_id",
        F.col("sent_idx").cast("bigint").alias("sent_idx"),
        F.md5("input").alias("sent_md5"),
    )


@_register(
    "sentence_split_bounded",
    """
WITH seeded AS (
  SELECT doc_id, replace(text, ' the ', '. the ') AS text FROM documents
),
bnd AS (
  SELECT doc_id,
         [struct_pack(s := length(text) // 4, e := length(text) // 4 + 10),
          struct_pack(s := (2 * length(text)) // 3, e := (2 * length(text)) // 3 + 10)] AS bs
  FROM seeded
),
paras AS (
  SELECT doc_id, p, pidx
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS p,
               generate_subscripts(string_split(text, chr(10)), 1) AS pidx
        FROM seeded)
  WHERE length(p) > 0
),
sents AS (
  SELECT doc_id, pidx, s, sidx
  FROM (SELECT doc_id, pidx,
               unnest(string_split(replace(p, '. ', '.' || chr(1)), chr(1))) AS s,
               generate_subscripts(string_split(replace(p, '. ', '.' || chr(1)), chr(1)), 1) AS sidx
        FROM paras)
),
pos AS (
  SELECT n.*, b.bs,
         sum(length(s) + 1) OVER (PARTITION BY n.doc_id ORDER BY pidx, sidx
                                  ROWS UNBOUNDED PRECEDING) AS p,
         (sidx = max(sidx) OVER (PARTITION BY n.doc_id, pidx)) AS para_last
  FROM sents n JOIN bnd b ON n.doc_id = b.doc_id
),
flagged AS (
  SELECT *, (para_last OR len(list_filter(bs, x -> x.s < p AND p < x.e)) = 0) AS kept
  FROM pos
),
grp AS (
  SELECT *, coalesce(sum(CASE WHEN kept THEN 1 ELSE 0 END) OVER (
              PARTITION BY doc_id ORDER BY pidx, sidx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS g
  FROM flagged
),
units AS (
  SELECT doc_id, g,
         regexp_replace(string_agg(s, ' ' ORDER BY pidx, sidx) || ' ',
                        '\\s{2,}', ' ', 'g') AS unit
  FROM grp GROUP BY doc_id, g
),
emitted AS (
  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY g) - 1 AS sent_idx, unit
  FROM units WHERE trim(unit) <> ''
)
SELECT doc_id, sent_idx::BIGINT AS sent_idx, md5(unit) AS sent_md5 FROM emitted
""",
)
def sentence_split_bounded(spark, sf_dir):
    """Boundary-aware split over a synthetic annotated table: seeded
    sentence breaks plus two deterministic entity spans per doc (at 1/4
    and 2/3 of the text, 10 chars wide) — split points inside a span are
    suppressed, merging sentences (reference
    convert_rebel_data2kilt.py:98-105 semantics)."""
    from .extract import sentences_bounded_df

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" the "), F.lit(". the ")).alias("text"),
    )
    ln = F.length("text")
    q1 = F.floor(ln / 4).cast("long")
    q2 = F.floor((ln * 2) / 3).cast("long")
    annotated = docs.withColumn(
        "boundaries",
        F.array(
            F.struct(q1.alias("s"), (q1 + 10).alias("e")),
            F.struct(q2.alias("s"), (q2 + 10).alias("e")),
        ),
    )
    out = sentences_bounded_df(annotated)
    return out.select(
        "doc_id",
        F.col("sent_idx").cast("bigint").alias("sent_idx"),
        F.md5("input").alias("sent_md5"),
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings tables)
# ---------------------------------------------------------------------------

# DuckDB twin of h60 (see datapipe/hashes.py)
def _h60_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::UBIGINT::BIGINT)"


# shared shingle CTE (word 3-shingles, distinct per doc; docs shorter than
# 3 words contribute the whole text — matches shingles_col semantics).
# Parameterized by source table so cascade oracles can run the chain over
# an upstream CTE instead of the base documents table.
def _shingles_sql(table: str = "documents") -> str:
    return f"""
  w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS ord
        FROM {table}),
  nw AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
  sh AS (
    SELECT DISTINCT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS shingle
    FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
             JOIN w c ON a.doc_id = c.doc_id AND c.ord = a.ord + 2
    UNION
    SELECT d.doc_id, d.text FROM {table} d JOIN nw ON d.doc_id = nw.doc_id AND nw.n < 3
  )
"""


_SHINGLES_SQL = _shingles_sql()


@_register(
    "dedup_exact",
    """
SELECT md5(text) AS text_hash, min(doc_id)::BIGINT AS keep_id, count(*)::BIGINT AS n_dups
FROM documents GROUP BY 1
""",
)
def dedup_exact(spark, sf_dir):
    from .datapipe.dedup import exact_dedup

    out = exact_dedup(_t(spark, sf_dir, "documents"))
    return out.select(
        "text_hash",
        F.col("keep_id").cast("bigint").alias("keep_id"),
        F.col("n_dups").cast("bigint").alias("n_dups"),
    )


def _minhash_params_sql() -> str:
    from .datapipe.hashes import minhash_params

    vals = ", ".join(
        f"({j}, {a}, {b}, {c})"
        for j, (a, b, c) in enumerate(minhash_params(MINHASH_N))
    )
    return f"(VALUES {vals}) AS v(j, a, b, c)"


def _minhash_banded_sql(table: str = "documents") -> str:
    """WITH-body (no leading WITH) computing MinHash signatures + LSH
    band keys over ``{table}(doc_id, text)`` — ends in CTEs
    ``sig(doc_id, sig)`` and ``banded(doc_id, band, bkey)``."""
    return f"""{_shingles_sql(table)},
hbase AS (SELECT doc_id, {_h60_sql("shingle")} AS h FROM sh),
params AS (SELECT * FROM {_minhash_params_sql()}),
mh AS (
  SELECT doc_id, j,
         min(((a * (h >> 30) + c) % 2147483647) * 2147483648
             + ((b * (h & 1073741823) + c) % 2147483647)) AS mv
  FROM hbase CROSS JOIN params GROUP BY 1, 2
),
sig AS (SELECT doc_id, list(mv ORDER BY j) AS sig FROM mh GROUP BY 1),
banded AS (
  SELECT doc_id, b.band,
         md5(array_to_string(sig[b.band * {MINHASH_N // MINHASH_BANDS} + 1 :
                                 (b.band + 1) * {MINHASH_N // MINHASH_BANDS}], ',')) AS bkey
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {MINHASH_BANDS - 1})) AS band) b
)"""


def _minhash_chain_sql(table: str = "documents") -> str:
    """WITH-body (no leading WITH) computing the MinHash near-dup chain
    over ``{table}(doc_id, text)`` — ends in CTE ``est(id_a, id_b, ej)``."""
    return f"""{_minhash_banded_sql(table)},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.id_a, c.id_b,
         len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2]))::DOUBLE / {MINHASH_N} AS ej
  FROM cand c JOIN sig sa ON c.id_a = sa.doc_id JOIN sig sb ON c.id_b = sb.doc_id
)"""


_MINHASH_ORACLE = (
    f"WITH {_minhash_chain_sql('documents')}\n"
    f"SELECT id_a, id_b, round(ej, 6) AS est_jaccard FROM est WHERE ej >= {MINHASH_T}"
)


@_register("dedup_minhash_lsh", None)
def dedup_minhash_lsh(spark, sf_dir):
    from .datapipe.dedup import minhash_jaccard_pairs

    return minhash_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=MINHASH_T
    )


ORACLES["dedup_minhash_lsh"] = _MINHASH_ORACLE


@_register(
    "dedup_ngram_jaccard",
    f"""
WITH {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(nc::DOUBLE / (sa.n + sb.n - nc), 6) AS jaccard
FROM common JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
WHERE nc::DOUBLE / (sa.n + sb.n - nc) >= 0.5
""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    from .datapipe.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


_NGRAM_MAX_DF = 3


@_register(
    "dedup_ngram_jaccard_dfcut",
    f"""
WITH {_SHINGLES_SQL},
rare AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= {_NGRAM_MAX_DF}),
shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(nc::DOUBLE / (sa.n + sb.n - nc), 6) AS jaccard
FROM common JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
WHERE nc::DOUBLE / (sa.n + sb.n - nc) >= 0.5
""",
)
def dedup_ngram_jaccard_dfcut(spark, sf_dir):
    """Web-scale variant: shingles in > max_df docs are dropped before the
    self-join (stopword semantics), bounding the hottest join key at
    max_df·(max_df−1)/2 pairs regardless of corpus size."""
    from .datapipe.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.5, max_df=_NGRAM_MAX_DF
    )


def _simhash_sql() -> str:
    """DuckDB twin of the 16-bit ``dedup.simhash_col``."""
    sums = ",\n         ".join(
        f"sum(CASE WHEN ({_h60_sql('word')} >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(16)
    )
    val = " + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16))
    return f"""
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
sums AS (
  SELECT doc_id,
         {sums}
  FROM w GROUP BY 1
)
SELECT doc_id, ({val})::BIGINT AS simhash FROM sums
"""


@_register("dedup_simhash", _simhash_sql())
def dedup_simhash(spark, sf_dir):
    from .datapipe.dedup import simhash_table

    return simhash_table(_t(spark, sf_dir, "documents"))


@_register(
    "embedding_neardup",
    """
WITH base AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> x::DOUBLE) AS v,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS n
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) / (a.n * b.n), 6) AS cosine
FROM base a JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) / (a.n * b.n) >= 0.3
""",
)
def embedding_neardup(spark, sf_dir):
    from .datapipe.dedup import embedding_neardup_pairs

    return embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), block_col="label", threshold=0.3
    )


@_register("embedding_neardup_lsh", None)
def embedding_neardup_lsh(spark, sf_dir):
    """Corpus-safe near-dup default: hyperplane-LSH buckets as the
    blocking key, so the within-block all-pairs term is bounded by the
    bucket size, not the corpus size."""
    from .datapipe.dedup import embedding_neardup_lsh_pairs

    return embedding_neardup_lsh_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3
    )


_IVF_CELLS = 8


@_register("dedup_semantic", None)
def dedup_semantic(spark, sf_dir):
    """SemDeDup (arXiv:2303.09540) as a Spark plan: hash-seeded
    clustering of the embedding space bounds the quadratic pair term to
    within-cell self-joins; every vector with a cosine-≥-threshold
    neighbor of smaller id in its cell is dropped. Returns the
    SURVIVORS (vec_id, cell) — engine-exact vs the data-derived DuckDB
    twin (semantic_dedup_sql)."""
    from .datapipe.similarity import ivf_centroids, semantic_dedup_survivors

    emb = _t(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, n_cells=_IVF_CELLS)
    return semantic_dedup_survivors(emb, cents)


def _install_embedding_oracles():
    from .datapipe.similarity import embedding_neardup_lsh_sql, semantic_dedup_sql

    ORACLES["embedding_neardup_lsh"] = embedding_neardup_lsh_sql()
    ORACLES["dedup_semantic"] = semantic_dedup_sql(n_cells=_IVF_CELLS)


_install_embedding_oracles()


@_register("dedup_components", None)
def dedup_components(spark, sf_dir):
    """Transitive duplicate clustering: MinHash-LSH candidate pairs as
    the edge list, distributed connected components (min-label
    propagation + pointer jumping, datapipe/graph.py) as the closure,
    every document labeled with its component = min doc_id reachable
    through near-dup edges (singletons label themselves). Pairwise
    keep-min under-deletes on A~B~C chains; this is the production
    CCNet/RefinedWeb-style cluster step. Oracle: DuckDB recursive CTE
    over the same edge SQL."""
    from .datapipe.dedup import minhash_jaccard_pairs
    from .datapipe.graph import components_with_singletons

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_jaccard_pairs(docs, threshold=MINHASH_T)
    return components_with_singletons(
        docs.select("doc_id"), pairs, "doc_id"
    )


ORACLES["dedup_components"] = (
    f"WITH RECURSIVE {_minhash_chain_sql('documents')},\n"
    f"""edges AS (
  SELECT id_a AS u, id_b AS w FROM est WHERE ej >= {MINHASH_T}
  UNION ALL
  SELECT id_b, id_a FROM est WHERE ej >= {MINHASH_T}
),
reach(v, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.w, reach.r FROM reach JOIN edges e ON e.u = reach.v
),
comp AS (SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v)
SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
"""
)


@_register("dedup_cluster_sizes", None)
def dedup_cluster_sizes(spark, sf_dir):
    """Duplicate-cluster size histogram — the audit number a dedup run
    reports (how much mass sits in clusters of size 2, 3, ...; size-1 =
    unique docs). Composes the connected-components closure with two
    counter-sized aggregates: component → size, size → (n_clusters,
    n_docs). Both groupBys partial-aggregate; output is
    histogram-sized."""
    from .datapipe.dedup import minhash_jaccard_pairs
    from .datapipe.graph import components_with_singletons

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_jaccard_pairs(docs, threshold=MINHASH_T)
    comp = components_with_singletons(docs.select("doc_id"), pairs, "doc_id")
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
    )


_SWEEP_PPM = [250000, 500000, 625000, 750000, 875000, 1000000]


def _dedup_sweep_sql() -> str:
    lits = ", ".join(str(t) for t in _SWEEP_PPM)
    return (
        f"WITH {_minhash_chain_sql('documents')},\n"
        f"""th AS (SELECT unnest([{lits}]) AS t_ppm)
SELECT t_ppm::BIGINT AS t_ppm, count(*)::BIGINT AS n_pairs
FROM th JOIN est ON ej >= t_ppm / 1000000.0
GROUP BY 1
"""
    )


@_register("dedup_threshold_sweep", None)
def dedup_threshold_sweep_q(spark, sf_dir):
    """Threshold-sensitivity sweep for the MinHash near-dup tier: pair
    counts at six Jaccard cut points from ONE candidate generation —
    the tuning audit run before committing a dedup threshold at scale
    (signatures, banding, and the estimate join are paid once; the
    sweep itself is a tiny explode + filter over the already-LSH-
    bounded candidate pairs). Thresholds are multiples of 1/16 = the
    signature granularity, so every comparison is float-exact in both
    engines (datapipe/dedup.py minhash_jaccard_pairs at threshold 0)."""
    from .datapipe.dedup import minhash_jaccard_pairs

    est = minhash_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.0)
    th = F.explode(
        F.expr("array(" + ", ".join(f"{t}L" for t in _SWEEP_PPM) + ")")
    ).alias("t_ppm")
    return (
        est.select("est_jaccard", th)
        .filter(F.col("est_jaccard") >= F.col("t_ppm") / F.lit(1000000.0))
        .groupBy("t_ppm")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


ORACLES["dedup_threshold_sweep"] = _dedup_sweep_sql()


def _leak_split_cuts():
    from .datapipe.sampling import split_thresholds

    return dict(split_thresholds({"train": 0.8, "val": 0.1, "test": 0.1}))


@_register("leakage_safe_split", None)
def leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test assignment: split membership is a
    pure function of the document's NEAR-DUP COMPONENT label, not its
    own id, so no pair of near-duplicates ever straddles train and
    eval (the contamination mode document-level hashing cannot prevent
    — Lee et al. 2022 §5). Composition of two already-oracled tiers:
    MinHash-LSH edges → distributed connected components → hash-residue
    split over the component representative (sampling.assign_split
    keyed on `component`). Per-doc output (doc_id, component, split);
    the no-straddle property holds by construction since split is a
    function of component. Scale: adds ZERO work beyond the components
    closure — the assignment is one row-local hash."""
    from .datapipe.dedup import minhash_jaccard_pairs
    from .datapipe.graph import components_with_singletons
    from .datapipe.sampling import assign_split

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_jaccard_pairs(docs, threshold=MINHASH_T)
    comp = components_with_singletons(docs.select("doc_id"), pairs, "doc_id")
    out = assign_split(
        comp, {"train": 0.8, "val": 0.1, "test": 0.1},
        id_col="component", salt="lsplit",
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("component"),
        "split",
    )


def _leakage_safe_split_sql() -> str:
    from .datapipe.sampling import residue_sql

    cuts = _leak_split_cuts()
    r = residue_sql("component", "lsplit")
    return (
        f"WITH RECURSIVE {_minhash_chain_sql('documents')},\n"
        f"""edges AS (
  SELECT id_a AS u, id_b AS w FROM est WHERE ej >= {MINHASH_T}
  UNION ALL
  SELECT id_b, id_a FROM est WHERE ej >= {MINHASH_T}
),
reach(v, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.w, reach.r FROM reach JOIN edges e ON e.u = reach.v
),
comp AS (SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v),
lbl AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
SELECT doc_id::BIGINT AS doc_id, component::BIGINT AS component,
       CASE WHEN ({r}) < {cuts['test']} THEN 'test'
            WHEN ({r}) < {cuts['train']} THEN 'train'
            ELSE 'val' END AS split
FROM lbl
"""
    )


ORACLES["leakage_safe_split"] = _leakage_safe_split_sql()


ORACLES["dedup_cluster_sizes"] = (
    f"WITH RECURSIVE {_minhash_chain_sql('documents')},\n"
    f"""edges AS (
  SELECT id_a AS u, id_b AS w FROM est WHERE ej >= {MINHASH_T}
  UNION ALL
  SELECT id_b, id_a FROM est WHERE ej >= {MINHASH_T}
),
reach(v, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.w, reach.r FROM reach JOIN edges e ON e.u = reach.v
),
comp AS (SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v),
lbl AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
szs AS (SELECT component, count(*)::BIGINT AS sz FROM lbl GROUP BY 1)
SELECT sz AS cluster_size, count(*)::BIGINT AS n_clusters,
       sum(sz)::BIGINT AS n_docs
FROM szs GROUP BY 1
"""
)


# -- KG analytics ----------------------------------------------------------------
#
# Once the engine has constructed and canonicalized a KG, users run graph
# analytics over it. These queries build a deterministic 4-relation KG
# from the relational tables (the same entity universe the metric queries
# use): order -[returnflag]-> part -[supplied_by]-> supplier
# -[based_in]-> nation -[part_of]-> region; entity ids are type-prefixed
# strings so the id spaces never collide.

_KG_EDGES_SQL = """
  kg_edges AS (
    SELECT DISTINCT 'O' || l_orderkey AS src, 'P' || l_partkey AS dst FROM lineitem
    UNION
    SELECT DISTINCT 'P' || l_partkey, 'S' || l_suppkey FROM lineitem
    UNION
    SELECT DISTINCT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
    UNION
    SELECT DISTINCT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
  )
"""

_KG_SEED_MOD = 997
_PR_ITERS = 5
_PR_SCALE = 10**12


def _kg_edges_df(spark, sf_dir) -> DataFrame:
    """Spark twin of _KG_EDGES_SQL — DISTINCT directed (src, dst)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")

    # Both lineitem edge types explode from ONE struct array so lineitem
    # (the only fact-sized input) is scanned once, not twice; and the
    # DISTINCT runs on typed (tag, long, long) rows — each edge type owns
    # a disjoint tag, so pair-level dedup equals string-level dedup while
    # the shuffle rows are narrower and hash/compare on longs, with the
    # "O123"-style labels built row-locally AFTER the dedup. Same row set
    # as the oracle's UNION ALL + DISTINCT over the concatenated labels.
    def pair(tg, a, b):
        return F.struct(
            F.lit(tg).cast("int").alias("tg"),
            F.col(a).cast("long").alias("k1"),
            F.col(b).cast("long").alias("k2"),
        )

    # Spread the single-row-group lineitem scan BEFORE the explode: one
    # scan = one task here, so the explode + map-side distinct hashing of
    # 2x|lineitem| rows would serialize on one core (the old two-scan
    # form at least got two). The repartition moves only the three
    # pruned key columns, once; consumers that reference the edge
    # subtree k times (k_hop, walks) re-execute it k times, so the map
    # stage must be parallel. spread_for_compute sees every scan as
    # undeclared (0 partitions) and always inserts the repartition: at
    # production scale a many-row-group lineitem scan is already split
    # into many tasks, so there the repartition is expected to be
    # redundant, but it is cheap (three key columns, one shuffle).
    from .datapipe.dedup import spread_for_compute

    li_pairs = spread_for_compute(
        li.select("l_orderkey", "l_partkey", "l_suppkey")
    ).select(
        F.explode(
            F.array(
                pair(0, "l_orderkey", "l_partkey"),
                pair(1, "l_partkey", "l_suppkey"),
            )
        ).alias("e")
    ).select("e.tg", "e.k1", "e.k2")
    pairs = (
        li_pairs
        .union(sup.select(pair(2, "s_suppkey", "s_nationkey").alias("e")).select("e.tg", "e.k1", "e.k2"))
        .union(nat.select(pair(3, "n_nationkey", "n_regionkey").alias("e")).select("e.tg", "e.k1", "e.k2"))
        .distinct()
    )
    src_tag = F.element_at(F.array(F.lit("O"), F.lit("P"), F.lit("S"), F.lit("N")), F.col("tg") + 1)
    dst_tag = F.element_at(F.array(F.lit("P"), F.lit("S"), F.lit("N"), F.lit("R")), F.col("tg") + 1)
    return pairs.select(
        F.concat(src_tag, F.col("k1").cast("string")).alias("src"),
        F.concat(dst_tag, F.col("k2").cast("string")).alias("dst"),
    )


def _kg_seeds_df(spark, sf_dir) -> DataFrame:
    """Spark twin of the oracles' order seed set: DISTINCT ``v`` =
    'O' || l_orderkey for every order key divisible by _KG_SEED_MOD."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") % _KG_SEED_MOD == 0)
        .select(
            F.concat(F.lit("O"), F.col("l_orderkey").cast("string")).alias("v")
        )
        .distinct()
    )


@_register(
    "kg_degree",
    f"""
WITH {_KG_EDGES_SQL}
SELECT coalesce(o.entity, i.entity) AS entity,
       coalesce(out_deg, 0)::BIGINT AS out_deg,
       coalesce(in_deg, 0)::BIGINT AS in_deg,
       (coalesce(out_deg, 0) + coalesce(in_deg, 0))::BIGINT AS degree
FROM (SELECT src AS entity, count(*) AS out_deg FROM kg_edges GROUP BY src) o
FULL JOIN (SELECT dst AS entity, count(*) AS in_deg FROM kg_edges GROUP BY dst) i
  ON o.entity = i.entity
""",
)
def kg_degree(spark, sf_dir):
    """Per-entity in/out/total degree over the constructed KG — two
    map-side-combinable groupBys + a full outer join (datapipe/graph.py
    degree_stats)."""
    from .datapipe.graph import degree_stats

    return degree_stats(_kg_edges_df(spark, sf_dir))


@_register("kg_pagerank", None)
def kg_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank over the constructed KG in INTEGER
    fixed-point (rank_fp = rank in units of 1e-12) — float PR is
    engine-divergent under reordering, integer PR is exact, the same
    determinism discipline as sampling.split_thresholds. Distributed
    loop: edges⋈ranks + partial-agg groupBy per iteration, lazy 1-row
    dangling aggregate, localCheckpoint lineage cuts
    (datapipe/graph.py pagerank_fixed)."""
    from .datapipe.graph import pagerank_fixed

    return pagerank_fixed(
        _kg_edges_df(spark, sf_dir), iterations=_PR_ITERS, scale=_PR_SCALE
    )


def _kg_pagerank_sql() -> str:
    from .datapipe.graph import pagerank_sql_chain

    return (
        f"WITH {_KG_EDGES_SQL},\n"
        + pagerank_sql_chain("kg_edges", iterations=_PR_ITERS, scale=_PR_SCALE)
        + f"\nSELECT v AS entity, r AS rank_fp FROM pr{_PR_ITERS}"
    )


ORACLES["kg_pagerank"] = _kg_pagerank_sql()


_LPA_ITERS = 3


@_register("kg_communities", None)
def kg_communities_q(spark, sf_dir):
    """Deterministic label-propagation community detection over the
    constructed KG (synchronous LPA, fixed 3 rounds, frequency vote
    with exact min-label tiebreak — Raghavan et al. 2007 made
    engine-exact). Per round: one vertex-keyed join + two partial-agg
    groupBys; lineage cut per round (datapipe/graph.py
    label_propagation_fixed)."""
    from .datapipe.graph import label_propagation_fixed

    out = label_propagation_fixed(
        _kg_edges_df(spark, sf_dir), iterations=_LPA_ITERS
    )
    return out.select(
        F.col("id").alias("entity"), "community"
    )


def _kg_communities_sql() -> str:
    from .datapipe.graph import lpa_sql_chain

    return (
        f"WITH {_KG_EDGES_SQL},\n"
        + lpa_sql_chain("kg_edges", iterations=_LPA_ITERS)
        + f"\nSELECT v AS entity, lbl AS community FROM lpa{_LPA_ITERS}"
    )


ORACLES["kg_communities"] = _kg_communities_sql()


_HITS_ITERS = 3


@_register("kg_hits", None)
def kg_hits(spark, sf_dir):
    """HITS hubs & authorities over the constructed KG in integer
    fixed-point with L1 normalization (float L2 is engine-divergent) —
    the other classic centrality pair next to PageRank; per iteration
    two edges⋈scores joins + two partial-agg groupBys + two lazy 1-row
    totals (datapipe/graph.py hits_fixed; unrolled CTE twin)."""
    from .datapipe.graph import hits_fixed

    return hits_fixed(
        _kg_edges_df(spark, sf_dir), iterations=_HITS_ITERS,
        dedup_edges=False,  # _kg_edges_df output is already DISTINCT
    )


def _kg_hits_sql() -> str:
    from .datapipe.graph import hits_sql_chain

    return (
        f"WITH {_KG_EDGES_SQL},\n"
        + hits_sql_chain("kg_edges", iterations=_HITS_ITERS)
        + "\nSELECT entity, hub_fp, auth_fp FROM hsel"
    )


ORACLES["kg_hits"] = _kg_hits_sql()


@_register("kg_ppr", None)
def kg_ppr(spark, sf_dir):
    """Personalized PageRank (random walk with restart) from the
    deterministic order seed set over the constructed KG — the
    relatedness measure entity disambiguation runs; all teleport and
    dangling mass returns to the seeds, integer fixed-point exact
    (datapipe/graph.py personalized_pagerank_fixed; unrolled DuckDB CTE
    twin)."""
    from .datapipe.graph import personalized_pagerank_fixed

    return personalized_pagerank_fixed(
        _kg_edges_df(spark, sf_dir), _kg_seeds_df(spark, sf_dir),
        iterations=_PR_ITERS, scale=_PR_SCALE,
    )


def _kg_ppr_sql() -> str:
    from .datapipe.graph import ppr_sql_chain

    seeds = (
        f"sds AS (SELECT DISTINCT 'O' || l_orderkey AS v FROM lineitem"
        f" WHERE l_orderkey % {_KG_SEED_MOD} = 0)"
    )
    return (
        f"WITH {_KG_EDGES_SQL},\n{seeds},\n"
        + ppr_sql_chain("kg_edges", "sds", iterations=_PR_ITERS, scale=_PR_SCALE)
        + f"\nSELECT v AS entity, r AS rank_fp FROM ppr{_PR_ITERS}"
    )


ORACLES["kg_ppr"] = _kg_ppr_sql()


# Closure runs on the layered part→supplier→nation→region hierarchy plus
# a seeded slice of the order layer (orderkey % 7) — depth-4 DAG, so the
# semi-naive loop must survive ≥4 rounds and detect convergence; seeding
# keeps the emitted pair set gate-sized without losing the deep layer.
_CLOSURE_EDGES_SQL = """
  cl_edges AS (
    SELECT DISTINCT 'O' || l_orderkey AS src, 'P' || l_partkey AS dst
    FROM lineitem WHERE l_orderkey % 7 = 0
    UNION
    SELECT DISTINCT 'P' || l_partkey, 'S' || l_suppkey FROM lineitem
    UNION
    SELECT DISTINCT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
    UNION
    SELECT DISTINCT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
  )
"""


def _tagged_edges(df, a, ta, b, tb) -> DataFrame:
    """``(src, dst)`` = (ta || a, tb || b) over ``df``'s rows."""
    return df.select(
        F.concat(F.lit(ta), F.col(a).cast("string")).alias("src"),
        F.concat(F.lit(tb), F.col(b).cast("string")).alias("dst"),
    )


def _closure_edges_df(spark, sf_dir) -> DataFrame:
    """Spark twin of _CLOSURE_EDGES_SQL — DISTINCT directed (src, dst)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    return (
        _tagged_edges(
            li.filter(F.col("l_orderkey") % 7 == 0), "l_orderkey", "O", "l_partkey", "P"
        )
        .union(_tagged_edges(li, "l_partkey", "P", "l_suppkey", "S"))
        .union(_tagged_edges(sup, "s_suppkey", "S", "s_nationkey", "N"))
        .union(_tagged_edges(nat, "n_nationkey", "N", "n_regionkey", "R"))
        .distinct()
    )


def _kg_closure_sql() -> str:
    from .datapipe.graph import closure_sql

    return (
        f"WITH RECURSIVE {_CLOSURE_EDGES_SQL},\n"
        + closure_sql()
        + "\nSELECT src, dst, min_hops FROM reach_min"
    )


@_register("kg_closure", None)
def kg_closure(spark, sf_dir):
    """Transitive reachability closure (src, dst, min_hops) of the
    seeded KG hierarchy — SEMI-NAIVE datalog iteration: each round
    joins only the last round's delta against the edge list and
    anti-joins known pairs, stopping on an empty delta (the Spark form
    of WITH RECURSIVE; oracle is DuckDB's actual WITH RECURSIVE over
    the same edges). Ontology-subsumption / containment-hierarchy
    closure is the canonical KG-construction use
    (datapipe/graph.py transitive_closure)."""
    from .datapipe.graph import transitive_closure

    return transitive_closure(_closure_edges_df(spark, sf_dir), max_hops=12)


ORACLES["kg_closure"] = _kg_closure_sql()


@_register(
    "kg_closure_delta",
    f"""
WITH RECURSIVE {_CLOSURE_EDGES_SQL},
cd_new AS (
  SELECT 'S' || s_suppkey AS src, 'N' || s_nationkey AS dst
  FROM supplier WHERE s_suppkey % 10 = 0),
cd_old AS (
  SELECT e.src, e.dst FROM cl_edges e
  WHERE NOT EXISTS (SELECT 1 FROM cd_new n
                    WHERE n.src = e.src AND n.dst = e.dst)),
r_all AS (
  SELECT src, dst FROM cl_edges
  UNION
  SELECT r.src, t.dst FROM r_all r JOIN cl_edges t ON r.dst = t.src),
r_old AS (
  SELECT src, dst FROM cd_old
  UNION
  SELECT r.src, t.dst FROM r_old r JOIN cd_old t ON r.dst = t.src)
SELECT src, dst FROM r_all EXCEPT SELECT src, dst FROM r_old
""",
)
def kg_closure_delta(spark, sf_dir):
    """INCREMENTAL closure maintenance: the reachability pairs created
    by newly-arrived edges (every-10th supplier's based-in link),
    computed from the materialized old closure + the delta ONLY — never
    re-deriving the old closure (the daily-crawl-update shape; oracle
    recomputes both closures via WITH RECURSIVE and EXCEPTs them, the
    semantic spec the incremental algorithm must match). New pairs seed
    from the new edges, right-grow semi-naively through ALL edges, and
    close on the left with ONE join against the old closure
    (datapipe/graph.py closure_delta)."""
    from .datapipe.graph import closure_delta, transitive_closure

    all_edges = _closure_edges_df(spark, sf_dir)
    sup = _t(spark, sf_dir, "supplier")
    new_edges = _tagged_edges(
        sup.filter(F.col("s_suppkey") % 10 == 0), "s_suppkey", "S", "s_nationkey", "N"
    )
    old_edges = all_edges.join(new_edges, ["src", "dst"], "left_anti")
    old_closure = transitive_closure(old_edges, max_hops=12)
    return closure_delta(old_closure, new_edges, all_edges, max_hops=12)


# Inverse/symmetry mining runs on a 3-relation fact set with engineered
# structure: hosts(N,S) is the (partial, even-suppkey) inverse of
# based_in(S,N); near(N,N) is symmetric by construction — so the miner
# must find confidence_ppm = 1e6 on (hosts => based_in) and the (near,
# near) diagonal, and the even-suppkey fraction on (based_in => hosts).
_INV_FACTS_SQL = """
  inv_facts AS (
    SELECT 'S' || s_suppkey AS s, 'based_in' AS r, 'N' || s_nationkey AS o
    FROM supplier
    UNION ALL
    SELECT 'N' || s_nationkey, 'hosts', 'S' || s_suppkey
    FROM supplier WHERE s_suppkey % 2 = 0
    UNION ALL
    SELECT 'N' || a.n_nationkey, 'near', 'N' || b.n_nationkey
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey
  )
"""


@_register(
    "kg_inverse_rules",
    f"""
WITH {_INV_FACTS_SQL},
fd AS (SELECT DISTINCT s, r, o FROM inv_facts),
body AS (SELECT r AS r_body, count(*)::BIGINT AS n_body FROM fd GROUP BY r),
sup AS (
  SELECT a.r AS r_body, b.r AS r_head, count(*)::BIGINT AS support
  FROM fd a JOIN fd b ON a.s = b.o AND a.o = b.s
  GROUP BY 1, 2
)
SELECT r_body, r_head, support, n_body,
       (support * 1000000 // n_body)::BIGINT AS confidence_ppm
FROM sup JOIN body USING (r_body)
""",
)
def kg_inverse_rules(spark, sf_dir):
    """AMIE inverse-rule mining: confidence of r_body(x,y) => r_head(y,x)
    per ordered relation pair, in integer ppm; the diagonal is each
    relation's symmetry score (the owl:inverseOf / owl:SymmetricProperty
    discovery pass). Support join keyed on the ENTITY PAIR — per-key
    fan-out is pair-level relation multiplicity, never entity degree
    (datapipe/graph.py inverse_rule_confidence)."""
    from .datapipe.graph import inverse_rule_confidence

    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    sn = F.concat(F.lit("S"), F.col("s_suppkey").cast("string"))
    nn = F.concat(F.lit("N"), F.col("s_nationkey").cast("string"))
    facts = sup.select(sn.alias("s"), F.lit("based_in").alias("r"), nn.alias("o"))
    facts = facts.unionByName(
        sup.filter(F.col("s_suppkey") % 2 == 0).select(
            nn.alias("s"), F.lit("hosts").alias("r"), sn.alias("o")
        )
    )
    a = nat.select(F.col("n_nationkey").alias("ka"), F.col("n_regionkey").alias("rg"))
    b = nat.select(F.col("n_nationkey").alias("kb"), F.col("n_regionkey").alias("rg"))
    near = (
        a.join(b, "rg")
        .filter(F.col("ka") != F.col("kb"))
        .select(
            F.concat(F.lit("N"), F.col("ka").cast("string")).alias("s"),
            F.lit("near").alias("r"),
            F.concat(F.lit("N"), F.col("kb").cast("string")).alias("o"),
        )
    )
    return inverse_rule_confidence(facts.unionByName(near))


@_register(
    "kg_two_hop",
    f"""
WITH {_KG_EDGES_SQL},
seeds AS (SELECT DISTINCT 'O' || l_orderkey AS v FROM lineitem
          WHERE l_orderkey % {_KG_SEED_MOD} = 0),
h1 AS (SELECT DISTINCT e.dst AS v FROM kg_edges e JOIN seeds s ON e.src = s.v),
h2 AS (SELECT DISTINCT e.dst AS v FROM kg_edges e JOIN h1 ON e.src = h1.v),
lv AS (SELECT v, 0 AS hop FROM seeds
       UNION ALL SELECT v, 1 FROM h1
       UNION ALL SELECT v, 2 FROM h2)
SELECT v AS entity, min(hop)::INT AS min_hop FROM lv GROUP BY v
""",
)
def kg_two_hop(spark, sf_dir):
    """Entities within 2 directed hops of a deterministic order seed
    set, labeled with min hop distance — frontier-expansion BFS, one
    edge join per hop (datapipe/graph.py k_hop)."""
    from .datapipe.graph import k_hop

    return k_hop(_kg_edges_df(spark, sf_dir), _kg_seeds_df(spark, sf_dir))


@_register(
    "kg_triangles",
    """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pe AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       FROM li a JOIN li b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
SELECT count(*)::BIGINT AS n_triangles
FROM pe e1
JOIN pe e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
JOIN pe e3 ON e3.pa = e1.pb AND e3.pb = e2.pb
""",
)
def kg_triangles(spark, sf_dir):
    """Triangle count of the part co-order graph (parts appearing in the
    same order — the entity co-occurrence graph KG pipelines mine for
    relatedness). Spark side uses degree-ordered orientation so the
    wedge join stays sub-quadratic on skewed graphs; the oracle counts
    the same triangles via the id-ordered 3-way join
    (datapipe/graph.py triangle_count)."""
    from .datapipe.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )
    return triangle_count(pairs, src="pa", dst="pb")


@_register(
    "kg_clustering_coeff",
    """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pe AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       FROM li a JOIN li b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
tri AS (SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
        FROM pe e1
        JOIN pe e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
        JOIN pe e3 ON e3.pa = e1.pb AND e3.pb = e2.pb),
tv AS (SELECT unnest([x, y, z]) AS v FROM tri),
tc AS (SELECT v, count(*)::BIGINT AS n_tri FROM tv GROUP BY 1),
dg AS (SELECT v, count(*)::BIGINT AS deg FROM
       (SELECT pa AS v FROM pe UNION ALL SELECT pb FROM pe) GROUP BY 1)
SELECT dg.v::BIGINT AS v, deg,
       coalesce(n_tri, 0)::BIGINT AS n_tri,
       ((2 * coalesce(n_tri, 0) * 1000000) // (deg * (deg - 1)))::BIGINT
         AS cc_ppm
FROM dg LEFT JOIN tc ON tc.v = dg.v
WHERE deg >= 2
""",
)
def kg_clustering_coeff(spark, sf_dir):
    """Per-vertex local clustering coefficient of the part co-order
    graph, integer ppm: degree-ordered-oriented wedge join (each
    triangle closes once), one explode credits all three corners, one
    join against the degree table. The oracle enumerates the same
    triangles via the id-ordered 3-way join
    (datapipe/graph.py local_clustering)."""
    from .datapipe.graph import local_clustering

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )
    return local_clustering(pairs, src="pa", dst="pb")


@_register(
    "kg_common_neighbors",
    """
WITH li AS (SELECT DISTINCT l_partkey AS u, l_orderkey AS v FROM lineitem),
deg AS (SELECT v, count(*)::BIGINT AS deg FROM li GROUP BY v),
pairs AS (SELECT n1.v AS id_a, n2.v AS id_b, count(*)::BIGINT AS common
          FROM li n1 JOIN li n2 ON n1.u = n2.u AND n1.v < n2.v
          GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT p.id_a, p.id_b, p.common,
       (p.common * 1000000) // (da.deg + db.deg - p.common) AS jaccard_ppm
FROM pairs p JOIN deg da ON da.v = p.id_a JOIN deg db ON db.v = p.id_b
""",
)
def kg_common_neighbors(spark, sf_dir):
    """Link-prediction candidate features over the bipartite
    order–part incidence: order pairs sharing ≥ 2 distinct parts, with
    common-neighbor count and integer-ppm Jaccard — the classic
    missing-edge / entity-alias proposal generator for a constructed
    KG. Wedge self-join keyed on the shared part
    (datapipe/graph.py common_neighbors_bipartite)."""
    from .datapipe.graph import common_neighbors_bipartite

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("part"), F.col("l_orderkey").alias("order_")
    )
    return common_neighbors_bipartite(li)


_TFIDF_K = 3
_TFIDF_SCALE = 10**6


@_register(
    "tfidf_top_terms",
    f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term),
dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
nd AS (SELECT count(*)::BIGINT AS nd FROM documents),
scored AS (SELECT tf.doc_id, tf.term, tf.tf,
                  tf.tf * ((nd.nd * {_TFIDF_SCALE}) // dfq.df) AS score_fp
           FROM tf JOIN dfq USING (term) CROSS JOIN nd)
SELECT doc_id::BIGINT AS doc_id, term, tf, score_fp, rnk::INT AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score_fp DESC, term) AS rnk
      FROM scored)
WHERE rnk <= {_TFIDF_K}
""",
)
def tfidf_top_terms_q(spark, sf_dir):
    """Top-3 most characteristic terms per document by tf×idf with a
    LINEAR integer fixed-point idf (log-idf is engine-divergent;
    textstats.tfidf_top_terms). Partial-agg tf and df groupBys, shuffle
    join on term whose output equals the tf table (no blowup), one
    window per doc with a lexicographic tiebreak."""
    from .datapipe.textstats import tfidf_top_terms

    return tfidf_top_terms(
        _t(spark, sf_dir, "documents"), k=_TFIDF_K, scale=_TFIDF_SCALE
    )


# -- text analysis ----------------------------------------------------------------

def _stop_sql(lang: str) -> str:
    from .datapipe.textstats import STOPWORDS

    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


# lang-ID CTE chain shared by the lang_id oracle and the classifier-
# evaluation oracles (confusion matrix / per-class report / kappa):
# `lg` carries (doc_id, lang = true label, score_*, lang_guess).
_LANG_CHAIN = f"""s AS (
  SELECT doc_id, lang,
         string_split_regex(lower(text), '\\s+') AS ws
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
         round(len(list_filter(ws, x -> list_contains({_stop_sql('de')}, x)))::DOUBLE / greatest(len(ws), 1), 6) AS score_de,
         round(len(list_filter(ws, x -> list_contains({_stop_sql('en')}, x)))::DOUBLE / greatest(len(ws), 1), 6) AS score_en,
         round(len(list_filter(ws, x -> list_contains({_stop_sql('es')}, x)))::DOUBLE / greatest(len(ws), 1), 6) AS score_es,
         round(len(list_filter(ws, x -> list_contains({_stop_sql('fr')}, x)))::DOUBLE / greatest(len(ws), 1), 6) AS score_fr
  FROM s
),
lg AS (
  SELECT doc_id, lang, score_de, score_en, score_es, score_fr,
       CASE WHEN greatest(score_de, score_en, score_es, score_fr) <= 0 THEN 'unknown'
            WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
            WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
            WHEN score_es >= score_fr THEN 'es'
            ELSE 'fr' END AS lang_guess
  FROM scored
)"""


@_register(
    "lang_id",
    f"""
WITH {_LANG_CHAIN}
SELECT doc_id, score_de, score_en, score_es, score_fr, lang_guess FROM lg
""",
)
def lang_id_q(spark, sf_dir):
    from .datapipe.textstats import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


def _lang_eval_df(spark, sf_dir):
    """(doc_id, lang = gold, lang_guess = weak labeler) — the
    predicted-vs-gold frame the classifier-eval queries score."""
    from .datapipe.textstats import lang_id

    docs = _t(spark, sf_dir, "documents")
    return lang_id(docs).select("doc_id", "lang_guess").join(
        docs.select("doc_id", "lang"), "doc_id"
    )


@_register(
    "confusion_matrix",
    f"""
WITH {_LANG_CHAIN}
SELECT lang AS true_cls, lang_guess AS pred_cls, count(*)::BIGINT AS n
FROM lg GROUP BY 1, 2
""",
)
def confusion_matrix_q(spark, sf_dir):
    """Multiclass confusion census of the stopword lang-ID labeler vs
    the gold `lang` column — one class-domain-bounded groupBy
    (metrics.py confusion_matrix)."""
    from .metrics import confusion_matrix

    return confusion_matrix(_lang_eval_df(spark, sf_dir))


@_register(
    "classifier_report",
    f"""
WITH {_LANG_CHAIN},
cm AS (SELECT lang AS t, lang_guess AS p, count(*)::BIGINT AS n
       FROM lg GROUP BY 1, 2),
tt AS (SELECT t AS cls, sum(n)::BIGINT AS n_true FROM cm GROUP BY 1),
pp AS (SELECT p AS cls, sum(n)::BIGINT AS n_pred FROM cm GROUP BY 1),
tp AS (SELECT t AS cls, n AS tp FROM cm WHERE t = p)
SELECT tt.cls, n_true,
       coalesce(n_pred, 0)::BIGINT AS n_pred,
       coalesce(tp, 0)::BIGINT AS tp,
       (CASE WHEN coalesce(n_pred, 0) = 0 THEN 0
             ELSE (coalesce(tp, 0) * 1000000) // n_pred END)::BIGINT
         AS precision_ppm,
       ((coalesce(tp, 0) * 1000000) // n_true)::BIGINT AS recall_ppm,
       ((2 * coalesce(tp, 0) * 1000000)
        // (n_true + coalesce(n_pred, 0)))::BIGINT AS f1_ppm
FROM tt LEFT JOIN pp ON pp.cls = tt.cls LEFT JOIN tp ON tp.cls = tt.cls
""",
)
def classifier_report_q(spark, sf_dir):
    """Per-class precision/recall/F1 (integer ppm) of the lang-ID
    labeler against gold labels, keyed on the true-class domain; F1
    folds exactly to 2·tp/(n_true+n_pred) so no float harmonic mean
    enters either engine (metrics.py classification_report)."""
    from .metrics import classification_report

    return classification_report(_lang_eval_df(spark, sf_dir))


@_register(
    "cohen_kappa",
    f"""
WITH {_LANG_CHAIN},
cm AS (SELECT lang AS t, lang_guess AS p, count(*)::BIGINT AS n
       FROM lg GROUP BY 1, 2),
tt AS (SELECT t AS cls, sum(n)::BIGINT AS n_true FROM cm GROUP BY 1),
pp AS (SELECT p AS cls, sum(n)::BIGINT AS n_pred FROM cm GROUP BY 1),
sx AS (SELECT sum(coalesce(n_true, 0) * coalesce(n_pred, 0))::BIGINT AS s
       FROM tt FULL OUTER JOIN pp ON pp.cls = tt.cls),
tot AS (SELECT sum(n)::BIGINT AS n,
               sum(CASE WHEN t = p THEN n ELSE 0 END)::BIGINT AS agree
        FROM cm)
SELECT n, agree,
       ((agree * 1000000) // n)::BIGINT AS po_ppm,
       ((s::HUGEINT * 1000000) // greatest(n * n, 1))::BIGINT AS pe_ppm,
       (((agree * n - s)::HUGEINT * 1000000) // greatest(n * n - s, 1))::BIGINT
         AS kappa_ppm
FROM tot CROSS JOIN sx
""",
)
def cohen_kappa_q(spark, sf_dir):
    """Cohen's kappa of the lang-ID labeler vs gold — chance-corrected
    agreement as one row, integer-exact via the cleared rational form,
    the ppm-scaled numerator widened to DECIMAL(38,0) / HUGEINT so the
    quotient is exact at every N (metrics.py cohen_kappa)."""
    from .metrics import cohen_kappa

    return cohen_kappa(_lang_eval_df(spark, sf_dir))


@_register(
    "quality_score",
    """
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars_m,
         len(string_split_regex(text, '\\s+')) AS n_words,
         round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
               / greatest(length(text), 1), 6) AS punct_ratio,
         round(len(list_filter(list_transform(string_split_regex(text, '\\s+'), x -> lower(x)),
                               x -> list_contains(['the','and','of','a','to','in','is','that','for','with'], x)))::DOUBLE
               / greatest(len(string_split_regex(text, '\\s+')), 1), 6) AS stopword_ratio,
         round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
               / greatest(len(string_split_regex(text, '\\s+')), 1), 6) AS mean_word_len
  FROM documents
)
SELECT doc_id, n_chars_m::BIGINT AS n_chars_m, n_words::BIGINT AS n_words,
       punct_ratio, stopword_ratio, mean_word_len,
       round((CASE WHEN n_words >= 20 THEN 0.25 ELSE n_words / 80.0 END)
             + (CASE WHEN punct_ratio <= 0.1 THEN 0.25 ELSE greatest(0.0, 0.25 - punct_ratio) END)
             + least(stopword_ratio * 3.0, 0.25)
             + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10 THEN 0.25 ELSE 0.0 END), 6) AS quality_score
FROM f
""",
)
def quality_score_q(spark, sf_dir):
    from .datapipe.textstats import quality_features

    out = quality_features(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_chars_m").cast("bigint").alias("n_chars_m"),
        F.col("n_words").cast("bigint").alias("n_words"),
        "punct_ratio", "stopword_ratio", "mean_word_len", "quality_score",
    )


@_register(
    "token_count",
    """
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+'))::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS re_tokens
FROM documents
""",
)
def token_count_q(spark, sf_dir):
    from .datapipe.textstats import token_counts

    out = token_counts(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("ws_tokens").cast("bigint").alias("ws_tokens"),
        F.col("re_tokens").cast("bigint").alias("re_tokens"),
    )


@_register(
    "length_deciles",
    """
WITH ld_l AS (
  SELECT doc_id, len(string_split(text, ' ')) AS v FROM documents),
ld_r AS (
  SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rn,
         count(*) OVER () AS n
  FROM ld_l),
ld_q AS (SELECT unnest(generate_series(1, 9)) AS decile)
SELECT q.decile::INT AS decile, r.v::BIGINT AS value
FROM ld_q q JOIN ld_r r ON r.rn = (r.n * q.decile + 9) // 10
""",
)
def length_deciles_q(spark, sf_dir):
    """Exact corpus length-distribution deciles (curation cutoff
    boundaries) with NO single-partition sort: distributed
    range-partition rank + a broadcast 9-row probe join. The oracle's
    global window is the semantic spec; the Spark plan is the scale
    shape (datapipe/textstats.py length_deciles)."""
    from .datapipe.textstats import length_deciles

    return length_deciles(_t(spark, sf_dir, "documents"))


def _domain_cap_oracle() -> str:
    from .datapipe.hashes import h60_salted_sql

    key = h60_salted_sql("doc_id", "'cap'")
    return f"""
SELECT doc_id, source, rn::INT AS grp_rank FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY {key}, doc_id) AS rn
  FROM documents)
WHERE rn <= 50
"""


@_register("domain_cap", _domain_cap_oracle())
def domain_cap_q(spark, sf_dir):
    """Deterministic per-domain quota cap (≤50 docs per source, salted
    hash order): the domain-capping step of pretraining mixes — an
    absolute per-group count, rerun- and partitioning-stable, ONE
    group-partitioned window, no global sort
    (datapipe/sampling.py group_cap)."""
    from .datapipe.sampling import group_cap

    out = group_cap(_t(spark, sf_dir, "documents"))
    return out.select("doc_id", "source", F.col("grp_rank").cast("int").alias("grp_rank"))


@_register(
    "winnow_fps",
    f"""
WITH wf_base AS (SELECT doc_id, string_split(text, ' ') AS wd, text FROM documents),
wf_h AS (
  SELECT doc_id,
    CASE WHEN len(wd) >= 3 THEN
      list_transform(generate_series(1, len(wd) - 2),
        i -> {_h60_sql("array_to_string(wd[i:i+2], ' ')")})
    ELSE [{_h60_sql("text")}] END AS hs
  FROM wf_base),
wf_sel AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
      i -> struct_pack(
        p := i + len(hs[i:i+3]) - list_position(list_reverse(hs[i:i+3]),
                                                list_min(hs[i:i+3])),
        v := list_min(hs[i:i+3])))) AS f
  FROM wf_h)
SELECT DISTINCT doc_id, f['p']::INT AS pos, f['v']::BIGINT AS fp FROM wf_sel
""",
)
def winnow_fps_q(spark, sf_dir):
    """Winnowing fingerprints (MOSS): per-window rightmost-min gram
    hash, k=3 / w=4 — the local-overlap detector of the dedup family.
    Row-local array selection, one DISTINCT shuffle
    (datapipe/dedup.py winnow_fingerprints)."""
    from .datapipe.dedup import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"))


@_register(
    "bigram_counts",
    """
WITH bg_w AS (
  SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
  FROM documents),
bg_p AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i + 1])) AS bigram
  FROM bg_w)
SELECT bigram, count(*)::BIGINT AS cnt FROM bg_p
GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 100
""",
)
def bigram_counts_q(spark, sf_dir):
    """Top-100 adjacent word bigrams corpus-wide — the tokenizer/BPE
    training and n-gram LM count shape: row-local pair generation, one
    partial-agg groupBy, TakeOrderedAndProject top-n
    (datapipe/textstats.py bigram_counts)."""
    from .datapipe.textstats import bigram_counts

    return bigram_counts(_t(spark, sf_dir, "documents"))


@_register(
    "fingerprint",
    f"""
WITH {_SHINGLES_SQL},
h AS (SELECT doc_id, {_h60_sql('shingle')} AS hv FROM sh)
SELECT h.doc_id,
       min(hv)::BIGINT AS fp_min, max(hv)::BIGINT AS fp_max,
       min(md5(d.text)) AS fp_md5
FROM h JOIN documents d ON h.doc_id = d.doc_id
GROUP BY 1
""",
)
def fingerprint_q(spark, sf_dir):
    from .datapipe.textstats import fingerprints

    out = fingerprints(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("fp_min").cast("bigint").alias("fp_min"),
        F.col("fp_max").cast("bigint").alias("fp_max"),
        "fp_md5",
    )


# -- deterministic sampling / splitting / packing -----------------------------


def _url_variants_df(spark, sf_dir, with_text=False, with_ts=False):
    """Fabricated crawl variants: every page fetched twice — once with a
    canonical URL, once with uppercased host, trailing slash, tracking
    params, and a fragment. Deterministic fetch timestamps (mod-10 affine
    hashes of doc_id) tie every 5th page so the (ts, id) tie-break is
    exercised, and either fetch can be the newer one."""
    docs = _t(spark, sf_dir, "documents")
    # both variants explode from ONE struct array so the whole family
    # reads the base table once (the earlier unionAll form scanned it
    # twice); the oracle's UNION ALL produces the identical row set
    canonical = F.struct(
        (F.col("doc_id") * 2).alias("vid"),
        F.concat(
            F.lit("https://"), "source", F.lit("/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        *(
            [F.pmod(F.col("doc_id") * F.lit(7).cast("long"), F.lit(10).cast("long"))
             .cast("long").alias("ts")]
            if with_ts else []
        ),
        *([F.col("text").alias("text")] if with_text else []),
    )
    messy = F.struct(
        (F.col("doc_id") * 2 + 1).alias("vid"),
        F.concat(
            F.lit("HTTPS://"), F.upper("source"), F.lit("/doc/"),
            F.col("doc_id").cast("string"),
            F.lit("/?utm_source=x&utm_medium=y#frag"),
        ).alias("url"),
        *(
            [F.pmod(F.col("doc_id") * F.lit(3).cast("long"), F.lit(10).cast("long"))
             .cast("long").alias("ts")]
            if with_ts else []
        ),
        *([F.col("text").alias("text")] if with_text else []),
    )
    return docs.select(
        F.explode(F.array(canonical, messy)).alias("v")
    ).select("v.*")


def _url_variants_sql(with_text=False, with_ts=False):
    text = ", text" if with_text else ""
    ts_a = ", (doc_id * 7) % 10 AS ts" if with_ts else ""
    ts_b = ", (doc_id * 3) % 10" if with_ts else ""
    return f"""variants AS (
  SELECT doc_id * 2 AS vid,
         'https://' || source || '/doc/' || doc_id AS url{ts_a}{text}
  FROM documents
  UNION ALL
  SELECT doc_id * 2 + 1 AS vid,
         'HTTPS://' || upper(source) || '/doc/' || doc_id ||
         '/?utm_source=x&utm_medium=y#frag' AS url{ts_b}{text}
  FROM documents
)"""


def _url_dedup_oracle():
    from .datapipe.urls import normalize_url_sql

    return f"""
WITH {_url_variants_sql()}
SELECT {normalize_url_sql()} AS norm_url,
       min(vid)::BIGINT AS keep_id,
       count(*)::BIGINT AS n_dups
FROM variants GROUP BY 1
"""


_BLOCK_RULES = ["src1.com", "src2.org", "src5.net", "src8.com", "www.src4.net"]


@_register(
    "domain_blocklist",
    f"""
WITH db_docs AS (
  SELECT doc_id,
         'www.' || source || '.' ||
         CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END AS host
  FROM documents),
db_rules AS (SELECT * FROM (VALUES {", ".join(f"('{r}')" for r in _BLOCK_RULES)}) t(rule)),
db_suf AS (
  SELECT doc_id, host,
         unnest(list_transform(generate_series(1, len(string_split(host, '.'))),
                i -> array_to_string(string_split(host, '.')[i:], '.'))) AS suf
  FROM db_docs),
db_hit AS (
  SELECT s.doc_id, min(r.rule) AS rule
  FROM db_suf s JOIN db_rules r ON s.suf = r.rule
  GROUP BY 1)
SELECT d.doc_id, d.host, h.rule IS NOT NULL AS blocked, h.rule
FROM db_docs d LEFT JOIN db_hit h ON d.doc_id = h.doc_id
""",
)
def domain_blocklist_q(spark, sf_dir):
    """Crawl-side domain blocklist with subdomain (suffix) matching over
    fabricated multi-label hosts: each host explodes into its
    label-suffix chain and joins the rule set by exact key — O(labels)
    per host, no regex/LIKE scan (datapipe/urls.py blocklist_filter)."""
    from .datapipe.urls import blocklist_filter

    docs = _t(spark, sf_dir, "documents")
    hosts = docs.select(
        "doc_id",
        F.concat(
            F.lit("www."), F.col("source"), F.lit("."),
            F.when(F.col("doc_id") % 3 == 0, "com")
            .when(F.col("doc_id") % 3 == 1, "org")
            .otherwise("net"),
        ).alias("host"),
    )
    rules = spark.createDataFrame([(r,) for r in _BLOCK_RULES], ["rule"])
    return blocklist_filter(hosts, rules)


@_register("dedup_url", _url_dedup_oracle())
def dedup_url(spark, sf_dir):
    """URL-keyed dedup over fabricated crawl variants: every page appears
    once canonically and once with uppercased host, trailing slash,
    tracking params, and a fragment — normalization must fold each pair
    to one key (n_dups=2 everywhere, canonical vid kept)."""
    from .datapipe.urls import dedup_by_url

    out = dedup_by_url(_url_variants_df(spark, sf_dir), id_col="vid")
    return out.select(
        "norm_url",
        F.col("keep_id").cast("bigint").alias("keep_id"),
        F.col("n_dups").cast("bigint").alias("n_dups"),
    )


def _url_latest_oracle():
    from .datapipe.urls import normalize_url_sql

    return f"""
WITH {_url_variants_sql(with_ts=True)}
SELECT {normalize_url_sql()} AS norm_url,
       max(struct_pack(t := ts, i := vid))['i']::BIGINT AS keep_id,
       count(*)::BIGINT AS n_dups
FROM variants GROUP BY 1
"""


@_register("dedup_url_latest", _url_latest_oracle())
def dedup_url_latest(spark, sf_dir):
    """URL-keyed dedup with the keep='latest' policy a crawl pipeline
    actually wants: the NEWEST fetch of each page wins (max (ts, id)
    struct, id breaking timestamp ties deterministically). Timestamps are
    fabricated so some pages' canonical fetch is newer, some pages' messy
    re-fetch is newer, and every 5th page ties."""
    from .datapipe.urls import dedup_by_url

    variants = _url_variants_df(spark, sf_dir, with_ts=True)
    out = dedup_by_url(variants, id_col="vid", keep="latest", ts_col="ts")
    return out.select(
        "norm_url",
        F.col("keep_id").cast("bigint").alias("keep_id"),
        F.col("n_dups").cast("bigint").alias("n_dups"),
    )


def _cascade_oracle():
    from .datapipe.urls import normalize_url_sql

    return f"""
WITH {_url_variants_sql(with_text=True)},
kept AS (
  SELECT {normalize_url_sql()} AS norm_url, min(vid) AS keep_id
  FROM variants GROUP BY 1
),
docs2 AS (
  SELECT v.vid AS doc_id, v.text
  FROM variants v JOIN kept k ON v.vid = k.keep_id
),
{_minhash_chain_sql('docs2')}
SELECT id_a, id_b, round(ej, 6) AS est_jaccard FROM est WHERE ej >= {MINHASH_T}
"""


@_register("dedup_cascade", None)
def dedup_cascade(spark, sf_dir):
    """Production multi-tier dedup cascade: tier 1 folds crawl re-fetches
    by normalized URL (cheapest — never reads content bytes), tier 2 runs
    MinHash+LSH near-dup over the survivors only. This is the ordering a
    real pipeline uses: pay content shingling only for pages that survive
    the URL fold. The survivor join is a left-semi on the kept ids, so
    content flows through exactly once."""
    from .datapipe.dedup import minhash_jaccard_pairs
    from .datapipe.urls import dedup_by_url

    variants = _url_variants_df(spark, sf_dir, with_text=True)
    kept = dedup_by_url(variants, id_col="vid").select("keep_id")
    survivors = variants.join(
        kept, variants["vid"] == kept["keep_id"], "left_semi"
    ).select(F.col("vid").alias("doc_id"), "text")
    return minhash_jaccard_pairs(survivors, threshold=MINHASH_T)


ORACLES["dedup_cascade"] = _cascade_oracle()


@_register("dedup_cascade_cc", None)
def dedup_cascade_cc(spark, sf_dir):
    """End-to-end three-tier dedup with transitive clustering: URL fold
    → MinHash-LSH candidate pairs over survivors → connected components
    → ONE kept page per duplicate cluster with its cluster size.
    Pairwise keep-min (dedup_cascade's consumer) under-deletes on A~B~C
    chains; this is the production keep-one-per-component form. Oracle:
    DuckDB recursive CTE over the identical cascade chain."""
    from .datapipe.dedup import minhash_jaccard_pairs
    from .datapipe.graph import components_with_singletons
    from .datapipe.urls import dedup_by_url

    variants = _url_variants_df(spark, sf_dir, with_text=True)
    kept = dedup_by_url(variants, id_col="vid").select("keep_id")
    survivors = variants.join(
        kept, variants["vid"] == kept["keep_id"], "left_semi"
    ).select(F.col("vid").alias("doc_id"), "text")
    pairs = minhash_jaccard_pairs(survivors, threshold=MINHASH_T)
    lab = components_with_singletons(
        survivors.select("doc_id"), pairs, "doc_id"
    )
    return lab.groupBy(F.col("component").alias("keep_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )


def _cascade_cc_oracle():
    from .datapipe.urls import normalize_url_sql

    return f"""
WITH RECURSIVE {_url_variants_sql(with_text=True)},
kept AS (
  SELECT {normalize_url_sql()} AS norm_url, min(vid) AS keep_id
  FROM variants GROUP BY 1
),
docs2 AS (
  SELECT v.vid AS doc_id, v.text
  FROM variants v JOIN kept k ON v.vid = k.keep_id
),
{_minhash_chain_sql('docs2')},
edges AS (
  SELECT id_a AS u, id_b AS w FROM est WHERE ej >= {MINHASH_T}
  UNION ALL
  SELECT id_b, id_a FROM est WHERE ej >= {MINHASH_T}
),
reach(v, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.w, reach.r FROM reach JOIN edges e ON e.u = reach.v
),
comp AS (SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v),
lab AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
        FROM docs2 d LEFT JOIN comp c ON c.doc_id = d.doc_id)
SELECT component AS keep_id, count(*)::BIGINT AS n_members
FROM lab GROUP BY 1
"""


ORACLES["dedup_cascade_cc"] = _cascade_cc_oracle()


@_register(
    "contact_flags",
    """
WITH enriched AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 4 = 0
                      THEN ' contact: user' || doc_id || '@example.com or https://example.org/u/' || doc_id
                      ELSE '' END AS text
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id,
       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
       len(regexp_extract_all(text, 'https?://[A-Za-z0-9./_-]+'))::BIGINT AS n_urls,
       (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) > 0
        OR len(regexp_extract_all(text, 'https?://[A-Za-z0-9./_-]+')) > 0) AS has_contact
FROM enriched
""",
)
def contact_flags_q(spark, sf_dir):
    """PII/contact-surface flags. The synthetic corpus contains no
    contact strings, so the query fabricates deterministic ones in-plan
    for a quarter of the docs (both engines apply the identical concat)
    — the regex path is exercised with non-trivial counts."""
    from .datapipe.textstats import contact_flags

    out = contact_flags(_contact_enriched_docs(spark, sf_dir))
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_emails").cast("bigint").alias("n_emails"),
        F.col("n_urls").cast("bigint").alias("n_urls"),
        "has_contact",
    )


# shared with contact_flags: deterministic contact-string fabrication (the
# synthetic corpus has no PII) — both engines apply the identical concat
_CONTACT_ENRICH_SQL = """
enriched AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 4 = 0
                      THEN ' contact: user' || doc_id || '@example.com or https://example.org/u/' || doc_id
                      ELSE '' END AS text
  FROM documents
)
"""


def _contact_enriched_docs(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.pmod("doc_id", F.lit(4)) == 0,
                F.concat(
                    F.lit(" contact: user"), F.col("doc_id").cast("string"),
                    F.lit("@example.com or https://example.org/u/"),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def _redact_oracle():
    from .datapipe.textstats import EMAIL_PATTERN, URL_PATTERN

    return f"""
WITH {_CONTACT_ENRICH_SQL}
SELECT doc_id::BIGINT AS doc_id,
       regexp_replace(regexp_replace(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
                      '{URL_PATTERN}', '<URL>', 'g') AS clean_text,
       len(regexp_extract_all(text, '{EMAIL_PATTERN}'))::BIGINT AS n_redacted_emails,
       len(regexp_extract_all(text, '{URL_PATTERN}'))::BIGINT AS n_redacted_urls
FROM enriched
"""


@_register("redact_contacts", _redact_oracle())
def redact_contacts_q(spark, sf_dir):
    """PII redaction over the contact-enriched corpus: every fabricated
    email → <EMAIL>, every URL → <URL>, with per-doc redaction counts.
    Row-local regexp_replace, zero shuffle."""
    from .datapipe.textstats import redact_contacts

    out = redact_contacts(_contact_enriched_docs(spark, sf_dir))
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "clean_text",
        F.col("n_redacted_emails").cast("bigint").alias("n_redacted_emails"),
        F.col("n_redacted_urls").cast("bigint").alias("n_redacted_urls"),
    )


_DECONTAM_N = 8


def _grams_sql() -> str:
    """DuckDB expression: distinct word ``_DECONTAM_N``-grams of list
    column ``w`` with the whole-text fallback for short docs — the twin of
    ``dedup.shingles_col(_DECONTAM_N)``."""
    k = _DECONTAM_N
    return (
        f"CASE WHEN len(w) >= {k} THEN list_distinct(list_transform("
        f"range(1, len(w) - {k - 2}), i -> array_to_string("
        f"list_slice(w, i, i + {k - 1}), ' ')))"
        f" ELSE [array_to_string(w, ' ')] END"
    )
_DECONTAM_ORACLE = f"""
WITH tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tg AS (SELECT doc_id, unnest({_grams_sql()}) AS gram FROM tw),
ev AS (SELECT list_slice(w, 1, 12) AS w FROM tw WHERE doc_id % 37 = 0),
eg AS (SELECT DISTINCT unnest({_grams_sql()}) AS gram FROM ev)
SELECT tg.doc_id::BIGINT AS doc_id,
       count(DISTINCT tg.gram)::BIGINT AS n_hit_grams
FROM tg JOIN eg USING (gram) GROUP BY 1
"""


@_register("decontaminate", _DECONTAM_ORACLE)
def decontaminate_q(spark, sf_dir):
    """Benchmark decontamination: the eval set is fabricated as the
    first-12-word slice of every 37th document (a held-out "test
    question" extracted from a crawl page), so each eval item genuinely
    cross-contaminates its source doc through shared 8-grams rather than
    by identity. Eval grams are broadcast; the corpus is never
    shuffled."""
    from .datapipe.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.pmod("doc_id", F.lit(37)) == 0).select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 1, 12), " ").alias("text"),
    )
    out = decontaminate(docs, eval_docs, n=_DECONTAM_N)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_hit_grams").cast("bigint").alias("n_hit_grams"),
    )


_DUP_SPAN_N = 8

_DUP_SPAN_ORACLE = f"""
WITH tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tg AS (SELECT doc_id, len(w) AS n_tok, i AS pos,
              array_to_string(list_slice(w, i, i + {_DUP_SPAN_N - 1}), ' ') AS gram
       FROM (SELECT doc_id, w,
                    unnest(range(1, greatest(len(w) - {_DUP_SPAN_N - 1}, 1) + 1)) AS i
             FROM tw)),
dup AS (SELECT gram FROM tg GROUP BY gram HAVING count(*) >= 2),
cov AS (SELECT tg.doc_id,
               unnest(range(pos, least(pos + {_DUP_SPAN_N - 1}, n_tok) + 1)) AS t
        FROM tg JOIN dup USING (gram)),
agg AS (SELECT doc_id, count(DISTINCT t) AS n_dup FROM cov GROUP BY doc_id)
SELECT tw.doc_id::BIGINT AS doc_id,
       len(w)::BIGINT AS n_tokens,
       coalesce(agg.n_dup, 0)::BIGINT AS n_dup_tokens,
       round(coalesce(agg.n_dup, 0)::DOUBLE / len(w), 6) AS dup_ratio
FROM tw LEFT JOIN agg ON agg.doc_id = tw.doc_id
"""


@_register("dup_span_stats", _DUP_SPAN_ORACLE)
def dup_span_stats(spark, sf_dir):
    """Exact-substring duplication profile (Lee et al. 2022 ExactSubstr,
    bounded word-8-gram form): per doc, how many tokens sit inside a
    span that occurs >= 2 times corpus-wide. The removal criterion of
    suffix-array dedup as a distributable three-shuffle plan (gram
    count, flag join, per-doc distinct-coverage)."""
    from .datapipe.dedup import substring_dup_stats

    return substring_dup_stats(_t(spark, sf_dir, "documents"), n=_DUP_SPAN_N)


@_register(
    "domain_stats",
    """
WITH f AS (
  SELECT doc_id, source,
         len(string_split_regex(text, '\\s+')) AS n_words,
         round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
               / greatest(length(text), 1), 6) AS punct_ratio,
         round(len(list_filter(list_transform(string_split_regex(text, '\\s+'), x -> lower(x)),
                               x -> list_contains(['the','and','of','a','to','in','is','that','for','with'], x)))::DOUBLE
               / greatest(len(string_split_regex(text, '\\s+')), 1), 6) AS stopword_ratio,
         round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
               / greatest(len(string_split_regex(text, '\\s+')), 1), 6) AS mean_word_len
  FROM documents
),
s AS (
  SELECT doc_id, source, n_words,
         round((CASE WHEN n_words >= 20 THEN 0.25 ELSE n_words / 80.0 END)
               + (CASE WHEN punct_ratio <= 0.1 THEN 0.25 ELSE greatest(0.0, 0.25 - punct_ratio) END)
               + least(stopword_ratio * 3.0, 0.25)
               + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10 THEN 0.25 ELSE 0.0 END), 6) AS q
  FROM f
)
SELECT source AS domain,
       count(*)::BIGINT AS n_docs,
       sum(n_words)::BIGINT AS total_words,
       round((sum(floor(q * 1000000)::BIGINT)::DOUBLE / count(*)) / 1000000.0, 6) AS mean_quality,
       max(q) AS max_quality
FROM s GROUP BY source
""",
)
def domain_stats(spark, sf_dir):
    """Per-domain corpus profile (docs/tokens/quality by source host —
    the RefinedWeb-style curation view). Mean quality is
    determinism-safe: per-doc 6dp scores quantized to integer ppm
    before the sum (textstats.domain_quality_stats)."""
    from .datapipe.textstats import domain_quality_stats

    return domain_quality_stats(_t(spark, sf_dir, "documents"))


_LINE_WORDS = 8


def _line_chain_sql(table: str = "documents", id_col: str = "doc_id") -> str:
    """WITH-body (no leading WITH) computing the corpus-wide line-dedup
    chain over ``{table}({id_col}, text)`` — ends in CTE
    ``linej({id_col}, clean_text, n_lines_kept, n_lines_dropped)``."""
    lw = _LINE_WORDS
    return f"""line_base AS (SELECT {id_col}, string_split(text, ' ') AS w FROM {table}),
line_l AS (
  SELECT {id_col}, i - 1 AS pos,
         array_to_string(list_slice(w, (i - 1) * {lw} + 1,
                                    (i - 1) * {lw} + {lw}), ' ') AS line
  FROM (SELECT {id_col}, w,
               unnest(range(1, ceil(len(w) / {lw}.0)::INT + 1)) AS i
        FROM line_base)),
line_keep AS (
  SELECT {id_col}, pos, line FROM line_l
  QUALIFY row_number() OVER (PARTITION BY md5(line) ORDER BY {id_col}, pos) = 1),
line_agg AS (
  SELECT {id_col}, string_agg(line, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM line_keep GROUP BY 1),
line_tot AS (SELECT {id_col}, ceil(len(w) / {lw}.0)::INT AS n_lines FROM line_base),
linej AS (
  SELECT t.{id_col},
         coalesce(a.clean_text, '') AS clean_text,
         coalesce(a.n_kept, 0)::BIGINT AS n_lines_kept,
         (t.n_lines - coalesce(a.n_kept, 0))::BIGINT AS n_lines_dropped
  FROM line_tot t LEFT JOIN line_agg a ON t.{id_col} = a.{id_col})"""


_LINE_DEDUP_ORACLE = f"""
WITH {_line_chain_sql('documents')}
SELECT doc_id::BIGINT AS doc_id, clean_text, n_lines_kept, n_lines_dropped
FROM linej
"""


@_register("line_dedup", _LINE_DEDUP_ORACLE)
def line_dedup_q(spark, sf_dir):
    """CCNet-style corpus-wide line dedup: first occurrence of each
    8-word line (by doc id, position) survives, repeats drop, docs are
    reassembled in order. The only content shuffle keys on the 128-bit
    line digest."""
    from .datapipe.dedup import line_dedup

    out = line_dedup(
        _t(spark, sf_dir, "documents"), line_words=_LINE_WORDS
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "clean_text",
        F.col("n_lines_kept").cast("bigint").alias("n_lines_kept"),
        F.col("n_lines_dropped").cast("bigint").alias("n_lines_dropped"),
    )


_MULTILINE_DOCS_SQL = """mdocs AS (
  SELECT doc_id,
         'COMMON HEADER' || chr(10) || text || chr(10) || 'FOOTER ' || source ||
         CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'COMMON HEADER' ELSE '' END AS text
  FROM documents
)"""

_LINE_NEWLINE_ORACLE = f"""
WITH {_MULTILINE_DOCS_SQL},
line_base AS (SELECT doc_id, string_split(text, chr(10)) AS w FROM mdocs),
line_l AS (
  SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS line
  FROM line_base),
line_keep AS (
  SELECT doc_id, pos, line FROM line_l
  QUALIFY row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, pos) = 1),
line_agg AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM line_keep GROUP BY 1),
line_tot AS (SELECT doc_id, len(w) AS n_lines FROM line_base)
SELECT t.doc_id::BIGINT AS doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       coalesce(a.n_kept, 0)::BIGINT AS n_lines_kept,
       (t.n_lines - coalesce(a.n_kept, 0))::BIGINT AS n_lines_dropped
FROM line_tot t LEFT JOIN line_agg a ON t.doc_id = a.doc_id
"""


def _multiline_docs_df(spark, sf_dir):
    """Fabricated multi-line crawl pages (the synthetic corpus has no
    newlines): shared boilerplate header on every page, the original text
    as the body line, a per-source boilerplate footer, and every 7th page
    repeats the header — so the newline dedup exercises cross-corpus
    boilerplate removal, per-group survivors, and within-document
    repeats."""
    docs = _t(spark, sf_dir, "documents")
    base = F.concat_ws(
        "\n",
        F.lit("COMMON HEADER"),
        F.col("text"),
        F.concat(F.lit("FOOTER "), F.col("source")),
    )
    mtext = F.when(
        F.col("doc_id") % 7 == 0, F.concat(base, F.lit("\nCOMMON HEADER"))
    ).otherwise(base)
    return docs.select("doc_id", mtext.alias("text"))


@_register("line_dedup_newline", _LINE_NEWLINE_ORACLE)
def line_dedup_newline_q(spark, sf_dir):
    """The CCNet/RefinedWeb PRODUCTION form of line dedup: lines are
    newline-delimited (split='\\n'), not fixed word chunks — boilerplate
    headers/footers repeated across a crawl collapse to their first
    occurrence and documents reassemble with '\\n'. Runs over fabricated
    multi-line pages (see :func:`_multiline_docs_df`); shares the
    digest-keyed one-shuffle plan with line_dedup."""
    from .datapipe.dedup import line_dedup

    out = line_dedup(
        _multiline_docs_df(spark, sf_dir), split="\n"
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "clean_text",
        F.col("n_lines_kept").cast("bigint").alias("n_lines_kept"),
        F.col("n_lines_dropped").cast("bigint").alias("n_lines_dropped"),
    )


_BOILERPLATE_MIN_DF = 3

_BOILERPLATE_ORACLE = f"""
WITH {_MULTILINE_DOCS_SQL},
bl_base AS (SELECT doc_id, string_split(text, chr(10)) AS w FROM mdocs),
bl_l AS (
  SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS line
  FROM bl_base),
bl_boiler AS (
  SELECT md5(line) AS lh FROM bl_l
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= {_BOILERPLATE_MIN_DF}),
bl_keep AS (
  SELECT doc_id, pos, line FROM bl_l
  WHERE md5(line) NOT IN (SELECT lh FROM bl_boiler)),
bl_agg AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM bl_keep GROUP BY 1),
bl_tot AS (SELECT doc_id, len(w) AS n_lines FROM bl_base)
SELECT t.doc_id::BIGINT AS doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       coalesce(a.n_kept, 0)::BIGINT AS n_lines_kept,
       (t.n_lines - coalesce(a.n_kept, 0))::BIGINT AS n_lines_dropped
FROM bl_tot t LEFT JOIN bl_agg a ON t.doc_id = a.doc_id
"""


@_register("boilerplate_strip", _BOILERPLATE_ORACLE)
def boilerplate_strip_q(spark, sf_dir):
    """Corpus-frequency boilerplate removal (the C4/CCNet line-filter
    family's statistical leg): every line occurring in ≥3 DISTINCT
    documents drops from ALL of them — the shared header and per-source
    footers of the fabricated crawl pages vanish, page bodies survive.
    Complements line_dedup (which keeps first occurrences). One
    (digest, doc) shuffle for the df count; the drop join reuses its
    partitioning (datapipe/dedup.py boilerplate_strip)."""
    from .datapipe.dedup import boilerplate_strip

    out = boilerplate_strip(
        _multiline_docs_df(spark, sf_dir), split="\n",
        min_df=_BOILERPLATE_MIN_DF,
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "clean_text",
        F.col("n_lines_kept").cast("bigint").alias("n_lines_kept"),
        F.col("n_lines_dropped").cast("bigint").alias("n_lines_dropped"),
    )


def _gate_chain_sql(table: str = "documents", id_col: str = "doc_id") -> str:
    """WITH-body (no leading WITH) computing the quality-gate feature +
    verdict chain over ``{table}({id_col}, text)`` — ends in CTE
    ``gatej({id_col}, n_words, quality_score, top_word_frac,
    dup_3gram_frac, fail_reasons, passed)``. Parameterized so the
    curation-report oracle can gate an upstream CTE."""
    reasons = """concat_ws(';',
         CASE WHEN n_words < 20 THEN 'too_short' END,
         CASE WHEN n_words > 90 THEN 'too_long' END,
         CASE WHEN punct_ratio > 0.1 THEN 'high_punct' END,
         CASE WHEN stopword_ratio < 0.02 THEN 'low_stopword' END,
         CASE WHEN top_word_frac > 0.2 THEN 'top_word' END,
         CASE WHEN dup_3gram_frac > 0.1 THEN 'dup_3gram' END)"""
    return f"""gate_f AS (
  SELECT {id_col},
         len(string_split_regex(text, '\\s+')) AS n_words,
         round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
               / greatest(length(text), 1), 6) AS punct_ratio,
         round(len(list_filter(list_transform(string_split_regex(text, '\\s+'), x -> lower(x)),
                               x -> list_contains(['the','and','of','a','to','in','is','that','for','with'], x)))::DOUBLE
               / greatest(len(string_split_regex(text, '\\s+')), 1), 6) AS stopword_ratio,
         round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
               / greatest(len(string_split_regex(text, '\\s+')), 1), 6) AS mean_word_len
  FROM {table}
),
gate_fq AS (
  SELECT {id_col}, n_words, punct_ratio, stopword_ratio,
         round((CASE WHEN n_words >= 20 THEN 0.25 ELSE n_words / 80.0 END)
               + (CASE WHEN punct_ratio <= 0.1 THEN 0.25 ELSE greatest(0.0, 0.25 - punct_ratio) END)
               + least(stopword_ratio * 3.0, 0.25)
               + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10 THEN 0.25 ELSE 0.0 END), 6) AS quality_score
  FROM gate_f
),
gate_base AS (SELECT {id_col}, string_split(text, ' ') AS w FROM {table}),
gate_g AS (
  SELECT {id_col}, w,
    CASE WHEN len(w) >= 3 THEN list_transform(range(1, len(w) - 1), i -> array_to_string(list_slice(w, i, i + 2), ' '))
         ELSE [array_to_string(w, ' ')] END AS g3
  FROM gate_base),
gate_r AS (
  SELECT {id_col},
    round((len(g3) - len(list_distinct(g3))) / greatest(len(g3), 1)::DOUBLE, 6) AS dup_3gram_frac,
    round(list_max(list_transform(list_distinct(w), d -> len(list_filter(w, x -> x = d)))) / greatest(len(w), 1)::DOUBLE, 6) AS top_word_frac
  FROM gate_g),
gatej AS (
  SELECT fq.*, r.dup_3gram_frac, r.top_word_frac,
         {reasons} AS fail_reasons,
         ({reasons} = '') AS passed
  FROM gate_fq fq JOIN gate_r r ON fq.{id_col} = r.{id_col})"""


_GATE_ORACLE = f"""
WITH {_gate_chain_sql('documents')}
SELECT doc_id::BIGINT AS doc_id, n_words::BIGINT AS n_words, quality_score,
       top_word_frac, dup_3gram_frac, fail_reasons, passed
FROM gatej
"""


def _gate_ablation_sql() -> str:
    from .datapipe.textstats import GATE_CHECKS

    lits = ", ".join(f"'{c}'" for c in GATE_CHECKS)
    return f"""
WITH {_gate_chain_sql('documents')},
ck AS (SELECT unnest([{lits}]) AS chk),
tot AS (SELECT count(*)::BIGINT AS n_total FROM gatej)
SELECT chk,
       sum(CASE WHEN list_contains(string_split(fail_reasons, ';'), chk)
                THEN 1 ELSE 0 END)::BIGINT AS n_failed,
       sum(CASE WHEN fail_reasons = chk THEN 1 ELSE 0 END)::BIGINT
         AS n_failed_only,
       ((sum(CASE WHEN list_contains(string_split(fail_reasons, ';'), chk)
                  THEN 1 ELSE 0 END) * 1000000) // n_total)::BIGINT
         AS failed_ppm,
       ((sum(CASE WHEN fail_reasons = chk THEN 1 ELSE 0 END) * 1000000)
        // n_total)::BIGINT AS marginal_ppm
FROM gatej CROSS JOIN ck CROSS JOIN tot
GROUP BY chk, n_total
"""


@_register("gate_ablation", _gate_ablation_sql())
def gate_ablation_q(spark, sf_dir):
    """Per-filter ablation of the quality gate: docs each criterion
    trips at all vs trips ALONE (its marginal removal), ppm of corpus —
    the evidence for keeping or dropping each check. Features computed
    once row-local; constant 6-way explode; one 6-group aggregate
    (datapipe/textstats.py gate_ablation)."""
    from .datapipe.textstats import gate_ablation

    return gate_ablation(_t(spark, sf_dir, "documents"))


@_register("quality_gate", _GATE_ORACLE)
def quality_gate_q(spark, sf_dir):
    """Gopher-style keep/drop gate: single-pass composition of the
    quality and repetition feature families with auditable fail_reasons.
    Thresholds chosen so the synthetic corpus trips every exercisable
    check (short/long/low-stopword/top-word/dup-3gram) on some docs and
    passes others."""
    from .datapipe.textstats import quality_gate

    out = quality_gate(_t(spark, sf_dir, "documents"))
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_words").cast("bigint").alias("n_words"),
        "quality_score", "top_word_frac", "dup_3gram_frac",
        "fail_reasons", "passed",
    )


def _curation_report_oracle():
    from .datapipe.urls import normalize_url_sql

    return f"""
WITH {_url_variants_sql(with_text=True)},
kept AS (
  SELECT {normalize_url_sql()} AS norm_url, min(vid) AS keep_id
  FROM variants GROUP BY 1
),
s1 AS (SELECT v.vid, v.text FROM variants v JOIN kept k ON v.vid = k.keep_id),
{_gate_chain_sql('s1', 'vid')},
s2 AS (SELECT s1.vid, s1.text FROM s1 JOIN gatej g ON s1.vid = g.vid WHERE g.passed),
{_line_chain_sql('s2', 'vid')}
SELECT (SELECT count(*) FROM variants)::BIGINT AS n_input,
       (SELECT count(*) FROM s1)::BIGINT AS n_after_url_dedup,
       (SELECT count(*) FROM s2)::BIGINT AS n_after_gate,
       (SELECT coalesce(sum(n_lines_dropped), 0) FROM linej)::BIGINT AS n_lines_dropped,
       (SELECT count(*) FROM linej WHERE clean_text <> '')::BIGINT AS n_final
"""


@_register("curation_report", _curation_report_oracle())
def curation_report_q(spark, sf_dir):
    """Per-stage drop accounting for the curation cascade — the
    observability row a production pipeline logs per run: fabricated
    crawl variants → URL fold → quality gate → corpus line dedup, with
    counts after each tier plus total deduped lines.

    One-pass shape (r4 verdict #3: the cross-joined-aggregates form
    re-scanned the corpus ~4×). The plan is one LINEAR chain: every row
    is tagged with its furthest-surviving stage in a single select
    (is_kept = window-min over the normalized URL — per-URL fan-in is
    the re-fetch count, so the window is skew-safe here; survives =
    is_kept ∧ row-local gate), lines posexplode_outer so every doc
    keeps exactly one MARKER row (pos 0, or the null row for docs that
    contribute no lines), and ONE skew-safe groupBy on the line digest
    partial-aggregates BOTH the line keepers and the doc-stage counters
    (marker-row sums distribute over any grouping). A final single-row
    aggregate emits the report. Corpus scanned once — asserted in
    test_plans."""
    from pyspark.sql import Window

    from .datapipe.dedup import lines_col, spread_for_compute
    from .datapipe.textstats import gate_passed_col
    from .datapipe.urls import normalize_url_col

    # spread the single-split scan: URL normalization, the quality gate
    # and the line chunking are all compute-heavy row-local expressions
    # that would otherwise run on 1-2 scan tasks (one row group = one
    # task); the window below shuffles by normalized URL regardless, so
    # the extra exchange carries only the base variants once
    variants = spread_for_compute(_url_variants_df(spark, sf_dir, with_text=True))
    # gate + URL normalization in the projection BELOW the window: both
    # then run in the spread pre-shuffle stage (the Window's child
    # projection), not the post-window (AQE-coalesced) stage
    pre = variants.select(
        "vid", "text",
        normalize_url_col().alias("_nu"),
        gate_passed_col().alias("_gate"),
    )
    w = Window.partitionBy("_nu")
    tagged = (
        pre.select(
            "vid", "text", "_gate",
            (F.col("vid") == F.min("vid").over(w)).alias("is_kept"),
        )
        .select(
            "vid", "text", "is_kept",
            (F.col("is_kept") & F.col("_gate")).alias(
                "survives"
            ),
        )
        .select(
            "vid", "is_kept", "survives",
            # null for non-survivors: posexplode_outer still emits their
            # single null marker row — no second pass over the corpus
            F.when(
                F.col("survives"), lines_col(_LINE_WORDS)
            ).alias("lines"),
        )
    )
    ex = tagged.select(
        "vid", "is_kept", "survives",
        F.posexplode_outer("lines").alias("pos", "line"),
    ).withColumn("lh", F.md5("line"))
    marker = (F.col("pos").isNull() | (F.col("pos") == 0)).cast("int")
    keeper = ex.groupBy("lh").agg(
        # the kept (first) occurrence of this line; null for the lh=null
        # marker-only group
        F.min(
            F.when(
                F.col("line").isNotNull(),
                F.struct(F.col("vid").alias("i"), F.col("pos").alias("p")),
            )
        ).alias("k"),
        F.sum(marker).alias("docs_part"),
        F.sum(marker * F.col("is_kept").cast("int")).alias("kept_part"),
        F.sum(marker * F.col("survives").cast("int")).alias("surv_part"),
        F.sum(F.col("line").isNotNull().cast("int")).alias("lines_part"),
    )
    return keeper.agg(
        F.sum("docs_part").cast("bigint").alias("n_input"),
        F.sum("kept_part").cast("bigint").alias("n_after_url_dedup"),
        F.sum("surv_part").cast("bigint").alias("n_after_gate"),
        (
            F.sum("lines_part")
            - F.sum(F.col("k").isNotNull().cast("int"))
        ).cast("bigint").alias("n_lines_dropped"),
        # docs whose clean_text survives non-empty: every kept chunk line
        # is a non-empty string (no empty words in the corpus — the
        # oracle comparison enforces this equivalence)
        F.count_distinct(F.col("k.i")).cast("bigint").alias("n_final"),
    )


@_register(
    "repetition_stats",
    """
WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id, w,
    CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)), i -> array_to_string(list_slice(w, i, i + 1), ' '))
         ELSE [array_to_string(w, ' ')] END AS g2,
    CASE WHEN len(w) >= 3 THEN list_transform(range(1, len(w) - 1), i -> array_to_string(list_slice(w, i, i + 2), ' '))
         ELSE [array_to_string(w, ' ')] END AS g3
  FROM base)
SELECT doc_id::BIGINT AS doc_id,
  round((len(g2) - len(list_distinct(g2))) / greatest(len(g2), 1)::DOUBLE, 6) AS dup_2gram_frac,
  round((len(g3) - len(list_distinct(g3))) / greatest(len(g3), 1)::DOUBLE, 6) AS dup_3gram_frac,
  round(list_max(list_transform(list_distinct(w), d -> len(list_filter(w, x -> x = d)))) / greatest(len(w), 1)::DOUBLE, 6) AS top_word_frac
FROM g
""",
)
def repetition_stats(spark, sf_dir):
    """Gopher-style intra-document repetition filters: duplicate 2/3-gram
    fractions + top-word dominance (row-local Column math; the spread
    repartition only balances the compute over cores — see
    spread_for_compute)."""
    from .datapipe.dedup import spread_for_compute
    from .datapipe.textstats import repetition_features

    return repetition_features(
        spread_for_compute(_t(spark, sf_dir, "documents"))
    )


def _sampling_oracles():
    from .datapipe.sampling import residue_sql, unit_sql

    return {
        "u_strata": unit_sql(),
        "r_split": residue_sql("doc_id", "split"),
    }


_SAMPLING_U = _sampling_oracles()


def _split_cuts():
    # integer ppm cut points shared with assign_split — the oracle
    # compares the integer residue against the exact same literals
    from .datapipe.sampling import split_thresholds

    return dict(split_thresholds({"train": 0.1, "val": 0.1, "test": 0.8}))


_SPLIT_CUTS = _split_cuts()


@_register(
    "sample_stratified",
    f"""
SELECT doc_id::BIGINT AS doc_id, lang
FROM documents
WHERE ({_SAMPLING_U['u_strata']}) <
      CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END
""",
)
def sample_stratified(spark, sf_dir):
    """Per-stratum deterministic sampling (hash-uniform, rerun- and
    partitioning-stable — unlike df.sampleBy)."""
    from .datapipe.sampling import stratified_sample

    out = stratified_sample(
        _t(spark, sf_dir, "documents"),
        {"en": 0.5, "de": 0.25},
        default_fraction=0.1,
    )
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"), "lang")


@_register(
    "split_assign",
    f"""
SELECT doc_id::BIGINT AS doc_id,
       CASE WHEN ({_SAMPLING_U['r_split']}) < {_SPLIT_CUTS['test']} THEN 'test'
            WHEN ({_SAMPLING_U['r_split']}) < {_SPLIT_CUTS['train']} THEN 'train'
            ELSE 'val' END AS split
FROM documents
""",
)
def split_assign(spark, sf_dir):
    """Disjoint exhaustive train/val/test assignment — a pure function of
    (salt, id): stable under reruns, repartitioning, and corpus growth.
    (Interval order follows sorted split names: test, train, val.)"""
    from .datapipe.sampling import assign_split

    out = assign_split(
        _t(spark, sf_dir, "documents"),
        {"train": 0.1, "val": 0.1, "test": 0.8},
    )
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"), "split")


def _shuffle_h_sql():
    from .datapipe.hashes import h60_salted_sql

    return h60_salted_sql("doc_id", "'shuffle-0'")


@_register(
    "shuffle_rank",
    f"""
SELECT doc_id::BIGINT AS doc_id,
       (row_number() OVER (ORDER BY h, doc_id) - 1)::BIGINT AS shuffle_rank
FROM (SELECT doc_id, {_shuffle_h_sql()} AS h FROM documents)
""",
)
def shuffle_rank_q(spark, sf_dir):
    """Epoch-0 deterministic corpus shuffle: dense rank under the hash
    permutation, computed with the distributed range-partition rank (no
    single-partition sort — same machinery as the multinomial
    bootstrap's sample indexing)."""
    from .datapipe.sampling import shuffle_order

    out = shuffle_order(_t(spark, sf_dir, "documents"), epoch=0)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("shuffle_rank").cast("bigint").alias("shuffle_rank"),
    )


@_register(
    "curation_pipeline",
    f"""
WITH q AS (
  SELECT doc_id, text, lang,
         (CASE WHEN len(string_split_regex(text, '\\s+')) >= 20 THEN 0.25
               ELSE len(string_split_regex(text, '\\s+')) / 80.0 END)
         + (CASE WHEN round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
                            / greatest(length(text), 1), 6) <= 0.1 THEN 0.25
                 ELSE greatest(0.0, 0.25 - round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
                            / greatest(length(text), 1), 6)) END)
         + least(round(len(list_filter(list_transform(string_split_regex(text, '\\s+'), x -> lower(x)),
                         x -> list_contains(['the','and','of','a','to','in','is','that','for','with'], x)))::DOUBLE
                 / greatest(len(string_split_regex(text, '\\s+')), 1), 6) * 3.0, 0.25)
         + (CASE WHEN round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                            / greatest(len(string_split_regex(text, '\\s+')), 1), 6) BETWEEN 3 AND 10
                 THEN 0.25 ELSE 0.0 END) AS qscore
  FROM documents
),
gated AS (SELECT * FROM q WHERE lang = 'en' AND round(qscore, 6) >= 0.5),
keep AS (SELECT md5(text) AS h, min(doc_id) AS keep_id FROM gated GROUP BY 1)
SELECT g.doc_id::BIGINT AS doc_id,
       round(g.qscore, 6) AS quality_score,
       CASE WHEN ({_SAMPLING_U['r_split']}) < {_SPLIT_CUTS['test']} THEN 'test'
            WHEN ({_SAMPLING_U['r_split']}) < {_SPLIT_CUTS['train']} THEN 'train'
            ELSE 'val' END AS split
FROM gated g JOIN keep k ON md5(g.text) = k.h AND g.doc_id = k.keep_id
""",
)
def curation_pipeline(spark, sf_dir):
    """End-to-end curation composition — the operators chained the way a
    training-data run uses them: quality gate (quality_features) → lang
    gate → exact dedup (first-id-per-hash survivor) → deterministic
    train/val/test assignment. Everything row-local or one hash-groupBy;
    the quality/lang predicates sit below the dedup shuffle so Catalyst
    prunes before the only wide stage."""
    from .datapipe.sampling import assign_split
    from .datapipe.textstats import quality_features

    docs = _t(spark, sf_dir, "documents")
    q = quality_features(docs).select("doc_id", "quality_score")
    gated = (
        docs.join(q, "doc_id")
        .filter((F.col("lang") == "en") & (F.col("quality_score") >= 0.5))
    )
    keep = (
        gated.groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .drop("_h")
    )
    survivors = gated.join(keep, "doc_id")
    out = assign_split(survivors, {"train": 0.1, "val": 0.1, "test": 0.8})
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "quality_score",
        "split",
    )


# ---------------------------------------------------------------------------
# decode-path operators: not static SQL — __spark_entry__.oracle_sql()
# installs VALUES-literal oracles generated by the pure-Python twin
# (genie_spark.oracle_twin), so the driver's hash gate covers them too.
# ---------------------------------------------------------------------------


_FLAGSHIP_CACHE: Dict[tuple, tuple] = {}
_CATALOG_DF_CACHE: Dict[tuple, tuple] = {}


def _flagship_extraction(spark, sf_dir, constrained=True):
    """Shared flagship run: (extractor, per-sentence output DataFrame).
    The extractor (catalog collect + trie broadcast) is cached per
    (sf_dir, constrained) — graph_extract_triples, graph_materialize and
    extraction_confidence all start from the same constrained run, and
    free_extract_triples shares the pages/catalog derivation with its own
    trie-free extractor; rebuilding the broadcast per query would triple
    the catalog cost in the suite and the driver gate. The output plan is
    rebuilt per call (plans are cheap; the broadcast is not)."""
    import __spark_entry__ as entry_mod

    from .pipeline import GenieExtractor, extract_pipeline

    docs = _t(spark, sf_dir, "documents")
    # keyed by (app id, sf_dir): a broadcast from a stopped session must
    # never be served to a new one
    base_key = (spark.sparkContext.applicationId, sf_dir)
    base = _FLAGSHIP_CACHE.get(base_key)
    if base is None:
        pages = entry_mod._docs_as_pages(docs)
        ents, rels = entry_mod._corpus_catalogs(docs)
        base = (pages, ents, rels, {})
        _FLAGSHIP_CACHE.clear()  # one corpus/session at a time
        _FLAGSHIP_CACHE[base_key] = base
    pages, ents, rels, extractors = base
    ex = extractors.get(constrained)
    if ex is None:
        ex = GenieExtractor(
            spark, ents, rels, num_beams=2, constrained=constrained
        )
        extractors[constrained] = ex
    out = extract_pipeline(spark, pages, ents, rels, lang="en", extractor=ex)
    return ex, out


@_register("graph_extract_triples")
def graph_extract_triples(spark, sf_dir):
    """Flagship constrained generation over the documents corpus
    (twin oracle: oracle_twin.flagship_oracle_sql)."""
    _, out = _flagship_extraction(spark, sf_dir)
    return out.select(
        "url", "sent_idx",
        F.explode_outer("pred_triples").alias("t"),
    ).select(
        "url", F.col("sent_idx").cast("bigint").alias("sent_idx"),
        "t.s", "t.r", "t.o",
    )


@_register("graph_materialize")
def graph_materialize_q(spark, sf_dir):
    """The north-star downstream stage under the hash gate: flagship
    extraction → explode → surface→id canonicalization (broadcast joins)
    → SALTED global triple dedup (salt_buckets=8 — the two-phase skew
    form runs in the gated plan, not only in its parity test) → one
    shuffle-sharing groupBy for dedup + provenance (n_sources,
    first_url). Ids are internal (corpus-catalog positions); the gated
    projection is the name triple + provenance, which the twin oracle
    reproduces as plain SQL over the flagship VALUES literal
    (oracle_twin.graph_oracle_sql)."""
    from .canonicalize import materialize_graph

    ex, out = _flagship_extraction(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    _, ents, rels, _ = _FLAGSHIP_CACHE[key]
    cat_key = key + ("catalog_dfs",)
    cached = _CATALOG_DF_CACHE.get(cat_key)
    if cached is None:
        # building a ~6k-row DataFrame from python tuples costs seconds;
        # the catalogs are fixed per corpus, so build once per session
        cached = tuple(
            spark.createDataFrame(
                [(i, n, "corpus") for i, n in enumerate(names)],
                ["id", "name", "provenance"],
            ).cache()
            for names in (ents, rels)
        )
        _CATALOG_DF_CACHE.clear()
        _CATALOG_DF_CACHE[cat_key] = cached
    ents_df, rels_df = cached
    g = materialize_graph(out, ents_df, rels_df, salt_buckets=8)
    return g.select(
        "subj_name", "pred_name", "obj_name",
        F.col("n_sources").cast("bigint").alias("n_sources"),
        "first_url",
    )


@_register("free_extract_triples")
def free_extract_triples(spark, sf_dir):
    """Unconstrained generation baseline — the reference's
    ``free_generation=true`` run mode (genie_base_pl.py:92-94: tries only
    load when constrained; genie_base_hf.py:1-36): the same decode stack
    with the full non-special vocabulary allowed at every step. Output is
    the raw prediction surface plus how many WELL-FORMED triples it
    parses into — with an untrained heuristic scorer the emitted names
    are typically ungrounded (not catalog entries), the failure mode the
    paper's constrained-vs-free comparison quantifies (twin oracle:
    oracle_twin.free_oracle_sql)."""
    _, out = _flagship_extraction(spark, sf_dir, constrained=False)
    return out.select(
        "url",
        F.col("sent_idx").cast("bigint").alias("sent_idx"),
        "prediction",
        F.size("pred_triples").cast("bigint").alias("n_triples"),
    )


@_register("extraction_confidence")
def extraction_confidence(spark, sf_dir):
    """A9 per-sample form — forced scoring of each emitted prediction
    (label-smoothed NLL, reference validation_step genie_base_pl.py:
    168-192 + utils.py:6-54, lifted into the scorer protocol) as a
    sequence-confidence column (twin oracle:
    oracle_twin.confidence_oracle_sql)."""
    ex, out = _flagship_extraction(spark, sf_dir)
    scored = ex.score_targets(out.filter(F.col("prediction").isNotNull()))
    return scored.select(
        "url",
        F.col("sent_idx").cast("bigint").alias("sent_idx"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round("nll_sum", 6).alias("nll"),
        F.round("loss", 6).alias("loss"),
    )


@_register("val_nll")
def val_nll(spark, sf_dir):
    """A9 aggregation — epoch-level mean NLL / loss per token (the
    reference's on_epoch val-nll_loss log). The distributed sum runs in
    exact integer micro-units of the 6dp-rounded per-row values, so the
    result is invariant to Spark's reduction order and hash-comparable
    against the SQL aggregate over the twin rows
    (oracle_twin.val_nll_oracle_sql)."""
    per = extraction_confidence(spark, sf_dir)
    nll_u = F.round(F.col("nll") * 1_000_000, 0).cast("long")
    loss_u = F.round(F.col("loss") * 1_000_000, 0).cast("long")
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(
            (F.sum(nll_u) / 1_000_000.0) / F.sum("n_tokens"), 6
        ).alias("nll_per_token"),
        F.round(
            (F.sum(loss_u) / 1_000_000.0) / F.count(F.lit(1)), 6
        ).alias("loss_per_seq"),
    )


# ---------------------------------------------------------------------------
# round-5 additions: reference-LM quality scoring, fuzzy entity linking,
# temporal knowledge fusion, RDF N-Triples export
# ---------------------------------------------------------------------------


def _lm_oracle():
    from .datapipe.textstats import lm_surprisal_sql

    return lm_surprisal_sql()


@_register("lm_surprisal", None)
def lm_surprisal_q(spark, sf_dir):
    """CCNet-style LM quality filter (Wenzek et al. 2020): per-document
    cross-entropy in EXACT integer bits against a unigram LM estimated
    from the reference slice (every 13th doc — the 'Wikipedia' stand-in).
    Count table broadcast; groupBy back to doc_id partial-aggregates
    map-side."""
    from .datapipe.textstats import lm_surprisal_bits

    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 13 == 0)
    return lm_surprisal_bits(docs, ref)


ORACLES["lm_surprisal"] = _lm_oracle()


@_register(
    "fuzzy_link",
    f"""
WITH fz_cat AS (SELECT p_partkey AS id, lower(p_name) AS name FROM part),
fz_men AS (
  SELECT p_partkey AS mention_id,
         regexp_replace(lower(p_name), 'a', '', 'g') AS mention
  FROM part WHERE p_partkey % 7 = 0
),
fz_ctok AS (
  SELECT DISTINCT id, tok FROM (
    SELECT id, unnest(string_split(name, ' ')) AS tok FROM fz_cat
  ) WHERE tok <> ''
),
fz_keep AS (
  SELECT tok FROM (SELECT tok, count(*) AS df FROM fz_ctok GROUP BY tok)
  WHERE df <= {FUZZY_BLOCK_DF}
),
fz_mtok AS (
  SELECT DISTINCT mention_id, tok FROM (
    SELECT mention_id, unnest(string_split(mention, ' ')) AS tok FROM fz_men
  ) WHERE tok <> ''
),
fz_cand AS (
  SELECT DISTINCT m.mention_id, c.id
  FROM fz_mtok m JOIN fz_keep k USING (tok) JOIN fz_ctok c USING (tok)
),
fz_scored AS (
  SELECT n.mention_id, n.mention,
         levenshtein(n.mention, t.name)::BIGINT AS dist,
         t.id, t.name
  FROM fz_cand c
  JOIN fz_men n USING (mention_id)
  JOIN fz_cat t ON c.id = t.id
)
SELECT mention_id, mention, dist,
       id AS entity_id, name AS entity_name
FROM fz_scored
QUALIFY row_number() OVER (PARTITION BY mention_id ORDER BY dist, id) = 1
""",
)
def fuzzy_link_q(spark, sf_dir):
    """Blocked fuzzy entity linking: part names with every 'a' deleted
    (deterministic typo model) linked back to the part catalog via
    token blocking + Levenshtein + min(struct) argmin — the approximate
    fallback for what exact-match canonicalization (J1) cannot resolve.
    Mentions whose tokens all mutated produce no row (honest recall)."""
    from .canonicalize import fuzzy_link

    part = _t(spark, sf_dir, "part")
    catalog = part.select(
        F.col("p_partkey").alias("id"), F.lower("p_name").alias("name")
    )
    mentions = part.filter(F.col("p_partkey") % 7 == 0).select(
        F.col("p_partkey").alias("mention_id"),
        F.regexp_replace(F.lower("p_name"), "a", "").alias("mention"),
    )
    out = fuzzy_link(mentions, catalog, max_block_df=FUZZY_BLOCK_DF)
    return out.select(
        F.col("mention_id").cast("bigint").alias("mention_id"),
        "mention",
        F.col("dist").cast("bigint").alias("dist"),
        F.col("entity_id").cast("bigint").alias("entity_id"),
        "entity_name",
    )


@_register(
    "kg_fact_intervals",
    f"""
WITH fi AS (
  SELECT l_orderkey AS s, l_returnflag AS r, l_partkey AS o, l_shipdate AS ts
  FROM lineitem WHERE l_shipdate < TIMESTAMP '{_CUT}'
),
fi_chg AS (
  SELECT s, r, o, ts,
         CASE WHEN lag(o) OVER w IS NULL OR o <> lag(o) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM fi WINDOW w AS (PARTITION BY s, r ORDER BY ts, o)
),
fi_ver AS (
  SELECT s, r, o, ts,
         sum(chg) OVER (PARTITION BY s, r ORDER BY ts, o
                        ROWS UNBOUNDED PRECEDING) AS ver
  FROM fi_chg
),
fi_runs AS (
  SELECT s, r, min(o) AS o, ver, min(ts) AS f,
         count(*)::BIGINT AS n_assertions
  FROM fi_ver GROUP BY s, r, ver
)
SELECT s::BIGINT AS s, r, o::BIGINT AS o, ver::BIGINT AS version,
       epoch(f)::BIGINT AS valid_from_epoch,
       epoch(lead(f) OVER (PARTITION BY s, r ORDER BY ver))::BIGINT
         AS valid_to_epoch,
       n_assertions
FROM fi_runs
""",
)
def kg_fact_intervals_q(spark, sf_dir):
    """Temporal fact versioning: the assertion stream collapsed into
    validity intervals per (s, r) — islands construction (lag change
    marks + running sum + one aggregate + lead), all windows partitioned
    on the key, ONE reused hash Exchange, no global sort
    (canonicalize.fact_intervals). The temporal-KG representation
    latest-wins fusion discards."""
    from .canonicalize import fact_intervals

    assertions = _target_sro(spark, sf_dir, F.col("l_shipdate").alias("ts"))
    out = fact_intervals(assertions)
    return out.select(
        F.col("s").cast("bigint").alias("s"), "r",
        F.col("o").cast("bigint").alias("o"),
        "version", "valid_from_epoch", "valid_to_epoch", "n_assertions",
    )


@_register(
    "kg_asof_snapshot",
    f"""
WITH fi AS (
  SELECT l_orderkey AS s, l_returnflag AS r, l_partkey AS o, l_shipdate AS ts
  FROM lineitem WHERE l_shipdate < TIMESTAMP '{_CUT}'
),
fi_chg AS (
  SELECT s, r, o, ts,
         CASE WHEN lag(o) OVER w IS NULL OR o <> lag(o) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM fi WINDOW w AS (PARTITION BY s, r ORDER BY ts, o)
),
fi_ver AS (
  SELECT s, r, o, ts,
         sum(chg) OVER (PARTITION BY s, r ORDER BY ts, o
                        ROWS UNBOUNDED PRECEDING) AS ver
  FROM fi_chg
),
fi_runs AS (
  SELECT s, r, min(o) AS o, ver, min(ts) AS f,
         count(*)::BIGINT AS n_assertions
  FROM fi_ver GROUP BY s, r, ver
),
fi_iv AS (
  SELECT s, r, o, epoch(f)::BIGINT AS vf,
         epoch(lead(f) OVER (PARTITION BY s, r ORDER BY ver))::BIGINT AS vt
  FROM fi_runs
)
SELECT s::BIGINT AS s, r, o::BIGINT AS o,
       ({ASOF_EPOCH} - vf)::BIGINT AS valid_for_s
FROM fi_iv
WHERE vf <= {ASOF_EPOCH} AND (vt IS NULL OR vt > {ASOF_EPOCH})
""",
)
def kg_asof_snapshot_q(spark, sf_dir):
    """Time-travel: the KG AS OF 1995-07-01, reconstructed as a pure
    row-local filter over the materialized interval table (one scan —
    never a re-fusion of the assertion log; the reason intervals are
    stored). Composes fact_intervals → asof_snapshot
    (canonicalize.asof_snapshot)."""
    from .canonicalize import asof_snapshot, fact_intervals

    iv = fact_intervals(
        _target_sro(spark, sf_dir, F.col("l_shipdate").alias("ts"))
    )
    out = asof_snapshot(iv)
    return out.select(
        F.col("s").cast("bigint").alias("s"), "r",
        F.col("o").cast("bigint").alias("o"), "valid_for_s",
    )


@_register(
    "kg_fuse_latest",
    f"""
WITH fu AS (
  SELECT l_orderkey AS s, l_returnflag AS r, l_partkey AS o, l_shipdate AS ts
  FROM lineitem WHERE l_shipdate < TIMESTAMP '{_CUT}'
),
fused AS (
  SELECT s, r,
         max(struct_pack(ts := ts, o := o)) AS w,
         count(*)::BIGINT AS n_assertions,
         count(DISTINCT o)::BIGINT AS n_objects
  FROM fu GROUP BY s, r
)
SELECT s::BIGINT AS s, r,
       w.o::BIGINT AS o_latest,
       epoch(w.ts)::BIGINT AS latest_epoch,
       n_assertions, n_objects,
       (CASE WHEN n_objects > 1 THEN 1 ELSE 0 END)::BIGINT AS conflicted
FROM fused
""",
)
def kg_fuse_latest_q(spark, sf_dir):
    """Temporal knowledge fusion over the target triple stream with
    l_shipdate as assertion time: latest-object-wins per (subject,
    relation) via partial-aggregatable max(struct(ts, o)), with conflict
    accounting — the step after graph_materialize when the same fact
    arrives from crawls of different warc_ts. Timestamp surfaces as
    epoch seconds (bigint) for cross-engine value identity."""
    from .canonicalize import fuse_latest

    assertions = _target_sro(spark, sf_dir, F.col("l_shipdate").alias("ts"))
    out = fuse_latest(assertions)
    return out.select(
        F.col("s").cast("bigint").alias("s"),
        "r",
        F.col("o_latest").cast("bigint").alias("o_latest"),
        F.unix_timestamp("latest_ts").cast("bigint").alias("latest_epoch"),
        "n_assertions",
        "n_objects",
        "conflicted",
    )


@_register(
    "rdf_ntriples",
    f"""
WITH {_TRIPLES_SQL},
nt AS (
  SELECT t.l_orderkey AS s, t.l_returnflag AS r, lower(p.p_name) AS o_name
  FROM trg t JOIN part p ON t.l_partkey = p.p_partkey
)
SELECT s::BIGINT AS s, r, o_name,
       '<http://example.org/entity/' || s || '> <http://example.org/prop/' || r
         || '> "' || replace(replace(o_name, '\\', '\\\\'), '"', '\\"') || '" .'
         AS ntriple
FROM nt
""",
)
def rdf_ntriples_q(spark, sf_dir):
    """RDF N-Triples export of the target graph with part names as
    object literals (backslash/quote escaping exercised in the recipe
    even though the fixture names are clean). Row-local concat — the KG
    sink counterpart of the JSONL sinks, one scan at any graph size.
    The part-name lookup is a broadcast join (dimension-sized right)."""
    from pyspark.sql.functions import broadcast

    from .triples import ntriple_col

    li = _t(spark, sf_dir, "lineitem")
    trg = (
        li.filter(F.col("l_shipdate") < _CUT)
        .select("l_orderkey", "l_returnflag", "l_partkey")
        .distinct()
    )
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", F.lower("p_name").alias("o_name")
    )
    nt = trg.join(broadcast(part), trg.l_partkey == part.p_partkey).select(
        F.col("l_orderkey").cast("bigint").alias("s"),
        F.col("l_returnflag").alias("r"),
        "o_name",
    )
    return nt.select(
        "s", "r", "o_name",
        ntriple_col(F.col("o_name")).alias("ntriple"),
    )


_NEG_K = 3


@_register(
    "kg_negative_samples",
    f"""
WITH {_TRIPLES_SQL},
ns_pos AS (SELECT l_orderkey AS s, l_returnflag AS r, l_partkey AS o FROM trg),
ns_ents AS (SELECT DISTINCT o AS e FROM ns_pos),
ns_idx AS (
  SELECT e, (row_number() OVER (ORDER BY e) - 1)::BIGINT AS idx FROM ns_ents
),
ns_n AS (SELECT count(*)::BIGINT AS n FROM ns_ents),
ns_cand AS (
  SELECT s, r, o, j,
         (('0x' || substr(md5(j::varchar || chr(1) || s::varchar || chr(2)
                              || r || chr(2) || o::varchar), 1, 15))
          ::UBIGINT::BIGINT) % n AS idx
  FROM ns_pos
  CROSS JOIN ns_n
  CROSS JOIN (SELECT unnest(range(1, {_NEG_K} + 1)) AS j)
),
ns_neg AS (
  SELECT c.s, c.r, i.e AS o_neg, c.j
  FROM ns_cand c JOIN ns_idx i USING (idx)
  WHERE i.e <> c.o
)
SELECT n.s::BIGINT AS s, n.r, n.o_neg::BIGINT AS o_neg, n.j::BIGINT AS j
FROM ns_neg n
WHERE NOT EXISTS (
  SELECT 1 FROM ns_pos p WHERE p.s = n.s AND p.r = n.r AND p.o = n.o_neg
)
""",
)
def kg_negative_samples_q(spark, sf_dir):
    """Filtered negative sampling for KG-embedding training (TransE
    corruption, filtered setting): k=3 hash-drawn object corruptions per
    target triple, minus self-corruptions and accidental positives. The
    entity index is a dim-table-only window broadcast to the fact side;
    the draw is h60-deterministic (rerun- and partition-stable)."""
    from .datapipe.graph import negative_samples

    trg = _target_sro(spark, sf_dir).distinct()
    out = negative_samples(trg, k=_NEG_K)
    return out.select(
        F.col("s").cast("bigint").alias("s"),
        "r",
        F.col("o_neg").cast("bigint").alias("o_neg"),
        F.col("j").cast("bigint").alias("j"),
    )


@_register(
    "kg_relation_profile",
    f"""
WITH {_TRIPLES_SQL},
rp AS (SELECT l_orderkey AS s, l_returnflag AS r, l_partkey AS o FROM trg)
SELECT r,
       count(*)::BIGINT AS n_triples,
       count(DISTINCT s)::BIGINT AS n_subjects,
       count(DISTINCT o)::BIGINT AS n_objects,
       (count(DISTINCT s) * 1000000 // count(*))::BIGINT AS functionality_ppm,
       (count(DISTINCT o) * 1000000 // count(*))::BIGINT AS inv_functionality_ppm
FROM rp GROUP BY r
""",
)
def kg_relation_profile_q(spark, sf_dir):
    """Ontology-grade relation statistics over the target graph:
    functionality / inverse functionality in integer ppm (the AMIE PCA
    ingredient) — one partial-aggregatable groupBy on relation."""
    from .datapipe.graph import relation_profile

    trg = _target_sro(spark, sf_dir).distinct()
    return relation_profile(trg)


@_register(
    "kg_rule_confidence",
    f"""
WITH rc AS (
  SELECT DISTINCT s, o, r FROM (
    SELECT l_orderkey AS s, l_partkey AS o, 'rf_' || l_returnflag AS r
    FROM lineitem WHERE l_shipdate < TIMESTAMP '{_CUT}'
    UNION ALL
    SELECT l_orderkey AS s, l_partkey AS o, 'ls_' || l_linestatus AS r
    FROM lineitem WHERE l_shipdate < TIMESTAMP '{_CUT}'
  )
),
rc_body AS (SELECT r AS r_body, count(*)::BIGINT AS n_body FROM rc GROUP BY r),
rc_sup AS (
  SELECT a.r AS r_body, b.r AS r_head, count(*)::BIGINT AS support
  FROM rc a JOIN rc b ON a.s = b.s AND a.o = b.o AND a.r <> b.r
  GROUP BY 1, 2
)
SELECT r_body, r_head, support, n_body,
       (support * 1000000 // n_body)::BIGINT AS confidence_ppm
FROM rc_sup JOIN rc_body USING (r_body)
""",
)
def kg_rule_confidence_q(spark, sf_dir):
    """1-hop Horn-rule mining (AMIE confidence): for every ordered
    relation pair, support and confidence of r_body(x,y) => r_head(x,y)
    in integer ppm. Self-join keyed on the (s, o) entity pair — per-key
    fan-out is the relation multiplicity of that pair, never quadratic
    in entities. Two relation families (returnflag + linestatus) give the
    miner genuine cross-family implications to find."""
    from .datapipe.graph import rule_confidence

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") < _CUT)
    rf = li.select(
        F.col("l_orderkey").alias("s"),
        F.concat(F.lit("rf_"), F.col("l_returnflag")).alias("r"),
        F.col("l_partkey").alias("o"),
    )
    ls = li.select(
        F.col("l_orderkey").alias("s"),
        F.concat(F.lit("ls_"), F.col("l_linestatus")).alias("r"),
        F.col("l_partkey").alias("o"),
    )
    return rule_confidence(rf.unionByName(ls))


def _align_sql() -> str:
    from .datapipe.align import pseudo_kb_sql

    return pseudo_kb_sql()


@_register(
    "distant_supervision",
    f"""
WITH {{ALIGN_CTES}},
al_nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
al_subj AS (
  SELECT t.doc_id, k.s_name, k.r, k.o_name
  FROM al_tok t JOIN al_kb k ON t.tok = k.s_name
),
al_hit AS (
  SELECT DISTINCT h.doc_id, h.s_name, h.r, h.o_name
  FROM al_subj h
  JOIN al_tok t2 ON h.doc_id = t2.doc_id AND h.o_name = t2.tok
),
al_sup AS (
  SELECT s_name, r, o_name, count(DISTINCT doc_id)::BIGINT AS n_support
  FROM al_hit GROUP BY 1, 2, 3
)
SELECT s_name, r, o_name, n_support,
       (n_support * 1000000 // (SELECT n_docs FROM al_nd))::BIGINT
         AS support_ppm
FROM al_sup
""",
)
def distant_supervision_q(spark, sf_dir):
    """Distant-supervision alignment (the REBEL/GenIE training-data
    construction step, reference genie/datamodule/datasets/rebel.py
    consumes its output): KB triples aligned to every document that
    mentions both endpoint entities, aggregated to per-triple support
    counts + ppm. The KB is the deterministic corpus-vocabulary
    pseudo-KB (h60-kept pairs); alignment is two inverted-index joins
    off ONE distinct (doc_id, token) mention table — the corpus text is
    scanned exactly once and never crossed with the KB."""
    from .datapipe.align import (
        distant_supervision,
        distant_support,
        doc_tokens,
        pseudo_kb,
    )

    docs = _t(spark, sf_dir, "documents")
    tokens = doc_tokens(docs)
    kb = pseudo_kb(tokens)
    n_docs_df = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return distant_support(distant_supervision(tokens, kb), n_docs_df)


ORACLES["distant_supervision"] = ORACLES["distant_supervision"].replace(
    "{ALIGN_CTES}", _align_sql().strip()
)


@_register(
    "kg_cooccurrence",
    f"""
WITH {{ALIGN_TOK}},
al_nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
co_pairs AS (
  SELECT a.tok AS a, b.tok AS b, count(*)::BIGINT AS n_ab
  FROM al_tok a JOIN al_tok b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2
),
co_marg AS (SELECT tok, count(*)::BIGINT AS n_tok FROM al_tok GROUP BY tok)
SELECT p.a, p.b, p.n_ab, ma.n_tok AS n_a, mb.n_tok AS n_b,
       (p.n_ab * (SELECT n_docs FROM al_nd) * 1000000
          // (ma.n_tok * mb.n_tok))::BIGINT AS lift_ppm
FROM co_pairs p
JOIN co_marg ma ON p.a = ma.tok
JOIN co_marg mb ON p.b = mb.tok
""",
)
def kg_cooccurrence_q(spark, sf_dir):
    """Entity-pair co-occurrence with exact integer PMI lift over the
    document corpus — the distant-supervision prior for proposing NEW
    relation candidates between entities that co-occur above chance
    (lift_ppm > 1_000_000). Pair fan-out is per-document and bounded by
    distinct catalog mentions; marginals and corpus size join in as
    broadcasts."""
    from .datapipe.align import doc_tokens, entity_cooccurrence

    docs = _t(spark, sf_dir, "documents")
    tokens = doc_tokens(docs)
    n_docs_df = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return entity_cooccurrence(tokens, n_docs_df)


ORACLES["kg_cooccurrence"] = ORACLES["kg_cooccurrence"].replace(
    "{ALIGN_TOK}",
    """al_tok AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
    FROM documents
  ) WHERE tok <> ''
)""",
)


@_register(
    "kg_fuse_vote",
    f"""
WITH fv AS (
  SELECT l_orderkey AS s, l_returnflag AS r, l_partkey AS o
  FROM lineitem WHERE l_shipdate < TIMESTAMP '{_CUT}'
),
fv_votes AS (
  SELECT s, r, o, count(*)::BIGINT AS n_votes FROM fv GROUP BY 1, 2, 3
),
fv_w AS (
  SELECT s, r, max(struct_pack(n_votes := n_votes, o := o)) AS w,
         sum(n_votes)::BIGINT AS n_total, count(*)::BIGINT AS n_objects
  FROM fv_votes GROUP BY s, r
)
SELECT s::BIGINT AS s, r, w.o::BIGINT AS o_winner, w.n_votes AS n_votes,
       n_total, n_objects,
       (w.n_votes * 1000000 // n_total)::BIGINT AS margin_ppm
FROM fv_w
""",
)
def kg_fuse_vote_q(spark, sf_dir):
    """Majority-vote knowledge fusion over the target triple stream:
    per (subject, relation) the most-asserted object wins, with margin
    in integer ppm — the timestamp-free complement of kg_fuse_latest.
    Two cascaded aggregations; the second shuffles only one row per
    distinct object, never the fact table."""
    from .canonicalize import fuse_vote

    out = fuse_vote(_target_sro(spark, sf_dir))
    return out.select(
        F.col("s").cast("bigint").alias("s"),
        "r",
        F.col("o_winner").cast("bigint").alias("o_winner"),
        "n_votes",
        "n_total",
        "n_objects",
        "margin_ppm",
    )


_SD_OLD_END = "1999-01-01"
_SD_NEW_START = "1997-01-01"


@_register(
    "kg_snapshot_diff",
    f"""
WITH sd_base AS (
  SELECT l_orderkey AS s, l_returnflag AS r, l_partkey AS o, l_shipdate AS ts
  FROM lineitem
),
sd_old_w AS (
  SELECT s, r, max(struct_pack(ts := ts, o := o)) AS w
  FROM sd_base WHERE ts < TIMESTAMP '{_SD_OLD_END}' GROUP BY s, r
),
sd_new_w AS (
  SELECT s, r, max(struct_pack(ts := ts, o := o)) AS w
  FROM sd_base WHERE ts >= TIMESTAMP '{_SD_NEW_START}' GROUP BY s, r
),
sd_old AS (SELECT s, r, w.o AS o_old FROM sd_old_w),
sd_new AS (SELECT s, r, w.o AS o_new FROM sd_new_w),
sd_diff AS (
  SELECT coalesce(o.s, n.s) AS s, coalesce(o.r, n.r) AS r,
         o.o_old, n.o_new,
         CASE WHEN o.s IS NULL THEN 'added'
              WHEN n.s IS NULL THEN 'removed'
              WHEN o.o_old <> n.o_new THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM sd_old o FULL OUTER JOIN sd_new n ON o.s = n.s AND o.r = n.r
)
SELECT s::BIGINT AS s, r, o_old::BIGINT AS o_old, o_new::BIGINT AS o_new,
       status
FROM sd_diff WHERE status <> 'unchanged'
""",
)
def kg_snapshot_diff_q(spark, sf_dir):
    """Incremental KG maintenance: diff the fused graph between two
    overlapping crawl windows (old = assertions before {_SD_OLD_END},
    new = assertions from {_SD_NEW_START} on) — keys fused only from
    pre-window assertions surface as 'removed', new keys as 'added',
    winner flips as 'changed'; 'unchanged' is filtered (the diff is
    what a downstream consumer applies incrementally). One full outer
    join of two one-row-per-key snapshots."""
    from .canonicalize import fuse_latest, snapshot_diff

    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_orderkey").alias("s"),
        F.col("l_returnflag").alias("r"),
        F.col("l_partkey").alias("o"),
        F.col("l_shipdate").alias("ts"),
    )
    old = fuse_latest(base.filter(F.col("ts") < _SD_OLD_END))
    new = fuse_latest(base.filter(F.col("ts") >= _SD_NEW_START))
    out = snapshot_diff(old, new).filter(F.col("status") != "unchanged")
    return out.select(
        F.col("s").cast("bigint").alias("s"),
        "r",
        F.col("o_old").cast("bigint").alias("o_old"),
        F.col("o_new").cast("bigint").alias("o_new"),
        "status",
    )




@_register(
    "er_clusters",
    f"""
WITH RECURSIVE
er_cat AS (SELECT p_partkey AS id, lower(p_name) AS name FROM part),
er_men AS (
  SELECT p_partkey AS mention_id,
         regexp_replace(lower(p_name), 'a', '', 'g') AS mention
  FROM part WHERE p_partkey % 7 = 0
),
er_ctok AS (
  SELECT DISTINCT id, tok FROM (
    SELECT id, unnest(string_split(name, ' ')) AS tok FROM er_cat
  ) WHERE tok <> ''
),
er_keep AS (
  SELECT tok FROM (SELECT tok, count(*) AS df FROM er_ctok GROUP BY tok)
  WHERE df <= {FUZZY_BLOCK_DF}
),
er_mtok AS (
  SELECT DISTINCT mention_id, tok FROM (
    SELECT mention_id, unnest(string_split(mention, ' ')) AS tok FROM er_men
  ) WHERE tok <> ''
),
er_cand AS (
  SELECT DISTINCT m.mention_id, c.id
  FROM er_mtok m JOIN er_keep k USING (tok) JOIN er_ctok c USING (tok)
),
er_edge0 AS (
  SELECT 'M' || n.mention_id AS u, 'E' || t.id AS w
  FROM er_cand c
  JOIN er_men n USING (mention_id)
  JOIN er_cat t ON c.id = t.id
  WHERE levenshtein(n.mention, t.name) <= {ER_MAX_DIST}
),
er_edges AS (SELECT u, w FROM er_edge0 UNION ALL SELECT w, u FROM er_edge0),
er_reach(v, rt) AS (
  SELECT u, u FROM er_edges
  UNION
  SELECT e.w, er_reach.rt FROM er_reach JOIN er_edges e ON e.u = er_reach.v
),
er_comp AS (SELECT v, min(rt) AS cluster FROM er_reach GROUP BY v),
er_verts AS (
  SELECT 'M' || mention_id AS node FROM er_men
  UNION
  SELECT 'E' || id FROM er_cat
)
SELECT node, coalesce(c.cluster, node) AS cluster
FROM er_verts v LEFT JOIN er_comp c ON c.v = v.node
""",
)
def er_clusters_q(spark, sf_dir):
    """Collective entity resolution over the part catalog: mutated
    mentions (every 'a' deleted) edge to EVERY catalog entry within
    Levenshtein ``ER_MAX_DIST`` (thresholded fuzzy candidates, not the
    fuzzy_link argmin), then distributed connected components merge
    duplicate/near-duplicate catalog listings transitively — the
    cluster step fuzzy_link alone cannot do (A~B~C chains). Oracle:
    DuckDB recursive CTE over the identical edge SQL."""
    from .canonicalize import resolve_entities

    part = _t(spark, sf_dir, "part")
    catalog = part.select(
        F.col("p_partkey").alias("id"), F.lower("p_name").alias("name")
    )
    mentions = part.filter(F.col("p_partkey") % 7 == 0).select(
        F.col("p_partkey").alias("mention_id"),
        F.regexp_replace(F.lower("p_name"), "a", "").alias("mention"),
    )
    out = resolve_entities(mentions, catalog)
    return out.select("node", F.col("component").alias("cluster"))


@_register(
    "distant_supervision_spans",
    f"""
WITH {{ALIGN_CTES}},
al_pos AS (
  SELECT doc_id, tok, min(pos)::BIGINT AS pos FROM (
    SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents)
  ) WHERE tok <> '' GROUP BY doc_id, tok
),
sp_subj AS (
  SELECT p.doc_id, k.s_name, k.r, k.o_name, p.pos AS s_pos
  FROM al_pos p JOIN al_kb k ON p.tok = k.s_name
)
SELECT s.doc_id, s.s_name, s.r, s.o_name, s.s_pos, p2.pos AS o_pos
FROM sp_subj s
JOIN al_pos p2 ON s.doc_id = p2.doc_id AND s.o_name = p2.tok
""",
)
def distant_supervision_spans_q(spark, sf_dir):
    """Span-anchored distant supervision — the REBEL-style training-
    example emitter: per (document, aligned KB triple) the 1-based
    token position of each endpoint's first mention. Same two-join
    inverted-index plan as distant_supervision; positions ride along in
    the mention-dedup aggregation (posexplode ↔ generate_subscripts,
    min(pos) per (doc, token) on both engines)."""
    from .datapipe.align import (
        distant_supervision_spans,
        doc_token_positions,
        doc_tokens,
        pseudo_kb,
    )

    docs = _t(spark, sf_dir, "documents")
    kb = pseudo_kb(doc_tokens(docs))
    positions = doc_token_positions(docs)
    return distant_supervision_spans(positions, kb)


ORACLES["distant_supervision_spans"] = ORACLES[
    "distant_supervision_spans"
].replace("{ALIGN_CTES}", _align_sql().strip())


_TRANSE_DIM = 8
_TRANSE_MOD = 1000


def _transe_emb_sql(kind: str, name_expr: str) -> str:
    from .datapipe.hashes import h60_sql

    inner = f"'{kind}' || chr(1) || ({name_expr}) || chr(1) || d::varchar"
    return f"({h60_sql(inner)} % {_TRANSE_MOD})"


def _transe_energy_sql(
    obj_expr: str, s_expr: str = "s::varchar", r_expr: str = "r"
) -> str:
    e_s = _transe_emb_sql("e", s_expr)
    e_r = _transe_emb_sql("r", r_expr)
    e_o = _transe_emb_sql("e", obj_expr)
    return (
        f"list_sum(list_transform(range(0, {_TRANSE_DIM}), d -> "
        f"abs({e_s} + {e_r} - {e_o})))::BIGINT"
    )


@_register("kg_transe_energy", None)
def kg_transe_energy_q(spark, sf_dir):
    """TransE L1 energy + corrupted-object margin over the distinct
    target graph, with exact-integer hash-embeddings (bit-identical in
    DuckDB) — the KG-embedding scoring primitive downstream of
    kg_negative_samples. Entirely row-local Column expressions: zero
    shuffle beyond the input DISTINCT, full whole-stage codegen."""
    from .datapipe.graph import transe_energy

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") < _CUT)
    # repartition: the downstream scoring is compute-bound (4·dim md5 per
    # row in interpreted HOFs); AQE coalesces the byte-light distinct to
    # 1-2 partitions and would serialize it on one core. Partition count
    # tracks cores (defaultParallelism), not bytes.
    triples = li.select(
        F.col("l_orderkey").cast("string").alias("s"),
        F.col("l_returnflag").alias("r"),
        F.col("l_partkey").cast("string").alias("o"),
    ).distinct().repartition(spark.sparkContext.defaultParallelism)
    out = transe_energy(triples, dim=_TRANSE_DIM, mod=_TRANSE_MOD)
    return out.select(
        F.col("s").cast("bigint").alias("s"),
        "r",
        F.col("o").cast("bigint").alias("o"),
        "energy",
        "energy_neg",
        "margin",
    )


ORACLES["kg_transe_energy"] = f"""
WITH te AS (
  SELECT DISTINCT l_orderkey AS s, l_returnflag AS r, l_partkey AS o
  FROM lineitem WHERE l_shipdate < TIMESTAMP '{_CUT}'
),
te_named AS (
  SELECT s, r, o,
         'neg_' || ({{H_NEG}} % {TRANSE_NEG_MOD})::varchar AS o_neg
  FROM te
)
SELECT s::BIGINT AS s, r, o::BIGINT AS o,
       {_transe_energy_sql("o::varchar")} AS energy,
       {_transe_energy_sql("o_neg")} AS energy_neg,
       ({_transe_energy_sql("o_neg")} - {_transe_energy_sql("o::varchar")})::BIGINT
         AS margin
FROM te_named
"""


def _transe_neg_hash_sql() -> str:
    from .datapipe.hashes import h60_sql

    return h60_sql(
        "s::varchar || chr(1) || r || chr(1) || o::varchar"
    )


ORACLES["kg_transe_energy"] = ORACLES["kg_transe_energy"].replace(
    "{H_NEG}", _transe_neg_hash_sql()
)


_LP_TEST_MOD = 200


def _lp_oracle_sql() -> str:
    from .datapipe.hashes import h60_sql

    def E(s_expr, r_expr, obj_expr):
        return _transe_energy_sql(obj_expr, s_expr=s_expr, r_expr=r_expr)

    def beat(s_expr, r_expr, obj_expr):
        e = E(s_expr, r_expr, obj_expr)
        return (
            f"CASE WHEN ({e} < t.e_true) OR ({e} = t.e_true AND"
            f" {obj_expr} < t.o) THEN 1 ELSE 0 END"
        )

    tkey = h60_sql("s || chr(1) || r || chr(1) || o")
    return f"""
WITH lp_te AS (
  SELECT DISTINCT l_orderkey::varchar AS s, l_returnflag AS r,
         l_partkey::varchar AS o
  FROM lineitem WHERE l_shipdate < TIMESTAMP '{_CUT}'
),
lp_test AS (
  SELECT s, r, o, {_transe_energy_sql("o", s_expr="s")}::BIGINT AS e_true
  FROM lp_te
  WHERE {tkey} % {_LP_TEST_MOD} = 0
),
lp_ents AS (SELECT DISTINCT o AS e FROM lp_te),
lp_all AS (
  SELECT t.s, t.r, t.o, sum({beat("t.s", "t.r", "c.e")})::BIGINT AS n_all
  FROM lp_test t CROSS JOIN lp_ents c
  WHERE c.e <> t.o
  GROUP BY t.s, t.r, t.o
),
lp_known AS (
  SELECT t.s, t.r, t.o, sum({beat("t.s", "t.r", "p.o")})::BIGINT AS n_known
  FROM lp_test t JOIN lp_te p ON p.s = t.s AND p.r = t.r AND p.o <> t.o
  GROUP BY t.s, t.r, t.o
),
lp_ranks AS (
  SELECT t.r,
         (1 + coalesce(a.n_all, 0) - coalesce(k.n_known, 0))::BIGINT AS rnk
  FROM lp_test t
  LEFT JOIN lp_all a ON a.s = t.s AND a.r = t.r AND a.o = t.o
  LEFT JOIN lp_known k ON k.s = t.s AND k.r = t.r AND k.o = t.o
)
SELECT r, count(*)::BIGINT AS n_test,
       (sum(1000000 // rnk) // count(*))::BIGINT AS mrr_ppm,
       (1000000 * sum(CASE WHEN rnk <= 1 THEN 1 ELSE 0 END)
          // count(*))::BIGINT AS hits1_ppm,
       (1000000 * sum(CASE WHEN rnk <= 3 THEN 1 ELSE 0 END)
          // count(*))::BIGINT AS hits3_ppm,
       (1000000 * sum(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END)
          // count(*))::BIGINT AS hits10_ppm,
       sum(rnk)::BIGINT AS sum_rank
FROM lp_ranks GROUP BY r
"""


@_register("kg_link_prediction", None)
def kg_link_prediction_q(spark, sf_dir):
    """Filtered link-prediction evaluation (Bordes et al. 2013 ranking
    protocol, filtered setting of Sun et al. 2019) over the target
    graph with exact-integer hash embeddings: per-relation MRR and
    Hits@{{1,3,10}} in integer ppm, deterministic (energy, entity-id)
    tiebreak. Completes the KG-embedding chain kg_negative_samples →
    kg_transe_energy → eval. Scale shape: candidate universe broadcast,
    beat counts partial-aggregate map-side (the shuffle never carries
    the |test|×|E| product), filtered correction via a fact-bounded
    (s, r) join — no anti-join over the candidate cross product."""
    from .datapipe.graph import link_prediction

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") < _CUT)
    triples = li.select(
        F.col("l_orderkey").cast("string").alias("s"),
        F.col("l_returnflag").alias("r"),
        F.col("l_partkey").cast("string").alias("o"),
    )
    return link_prediction(
        triples, dim=_TRANSE_DIM, mod=_TRANSE_MOD, test_mod=_LP_TEST_MOD
    )


ORACLES["kg_link_prediction"] = _lp_oracle_sql()


@_register(
    "kg_constraint_violations",
    f"""
WITH cv AS (
  SELECT l_orderkey AS s, l_returnflag AS r, l_partkey AS o
  FROM lineitem WHERE l_shipdate < TIMESTAMP '{_CUT}'
)
SELECT s::BIGINT AS s, r, count(DISTINCT o)::BIGINT AS n_objects,
       min(o)::BIGINT AS min_o, max(o)::BIGINT AS max_o
FROM cv WHERE r IN ('N', 'R') GROUP BY s, r
HAVING count(DISTINCT o) > 1
""",
)
def kg_constraint_violations_q(spark, sf_dir):
    """Wikidata-style single-value property-constraint checking over
    the target graph: relations 'N' and 'R' are declared functional;
    every subject holding >1 distinct object under them is a violation
    row. Relation filter pushes to the scan; ONE partial-agg groupBy;
    violation-sized output."""
    from .datapipe.graph import constraint_violations

    out = constraint_violations(_target_sro(spark, sf_dir), ["N", "R"])
    return out.select(
        F.col("s").cast("bigint").alias("s"),
        "r",
        "n_objects",
        F.col("min_o").cast("bigint").alias("min_o"),
        F.col("max_o").cast("bigint").alias("max_o"),
    )


@_register(
    "link_prior",
    f"""
WITH lpr_cat AS (
  SELECT p_partkey AS id,
         array_to_string((string_split(p_name, ' '))[1:2], ' ') AS name
  FROM part
),
lpr_sup AS (
  SELECT l_partkey AS id, count(*)::BIGINT AS support
  FROM lineitem WHERE l_shipdate < TIMESTAMP '{_CUT}' GROUP BY 1
),
lpr_cand AS (
  SELECT c.name, c.id, coalesce(s.support, 0)::BIGINT AS support
  FROM lpr_cat c LEFT JOIN lpr_sup s USING (id)
),
lpr_rank AS (
  SELECT name, id, support,
         row_number() OVER (PARTITION BY name ORDER BY support DESC, id) AS rn,
         count(*) OVER (PARTITION BY name) AS nc
  FROM lpr_cand
)
SELECT name, nc::BIGINT AS n_candidates, id::BIGINT AS entity_id, support
FROM lpr_rank WHERE rn = 1
""",
)
def link_prior_q(spark, sf_dir):
    """Commonness-prior entity disambiguation: two-word part-name
    surface forms (genuinely ambiguous) resolved to the candidate with
    the most target-graph support, ties to lowest id. The prior-based
    alternative to J6's drop-ambiguous policy; one dimension join + one
    min(struct) groupBy, no window over facts."""
    from .canonicalize import link_prior

    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    catalog = part.select(
        F.col("p_partkey").alias("id"),
        F.concat_ws(" ", F.slice(F.split(F.col("p_name"), " "), 1, 2)).alias(
            "name"
        ),
    )
    support = (
        li.filter(F.col("l_shipdate") < _CUT)
        .groupBy(F.col("l_partkey").alias("id"))
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    return link_prior(catalog, support)



@_register(
    "kg_evidence",
    f"""
WITH ev AS (
  SELECT l_orderkey AS s, l_returnflag AS r, l_partkey AS o,
         l_shipdate AS ts, 'sup_' || l_suppkey AS src
  FROM lineitem WHERE l_shipdate < TIMESTAMP '{_CUT}'
)
SELECT s::BIGINT AS s, r, o::BIGINT AS o,
       count(*)::BIGINT AS n_assertions,
       count(DISTINCT src)::BIGINT AS n_sources,
       epoch(min(ts))::BIGINT AS first_epoch,
       epoch(max(ts))::BIGINT AS last_epoch,
       min(src) AS src_sample
FROM ev GROUP BY s, r, o
""",
)
def kg_evidence_q(spark, sf_dir):
    """Per-triple evidence/provenance aggregation over the assertion
    stream: assertion + distinct-source counts, first/last sighting
    (epoch seconds for cross-engine identity), deterministic sample
    source — the trust signal a constructed KG publishes next to each
    fact. ONE partial-aggregatable groupBy; every aggregate map-side
    combines."""
    from .canonicalize import triple_evidence

    assertions = _target_sro(
        spark,
        sf_dir,
        F.col("l_shipdate").alias("ts"),
        F.concat(F.lit("sup_"), F.col("l_suppkey").cast("string")).alias("src"),
    )
    out = triple_evidence(assertions)
    return out.select(
        F.col("s").cast("bigint").alias("s"),
        "r",
        F.col("o").cast("bigint").alias("o"),
        "n_assertions",
        "n_sources",
        F.unix_timestamp("first_ts").cast("bigint").alias("first_epoch"),
        F.unix_timestamp("last_ts").cast("bigint").alias("last_epoch"),
        "src_sample",
    )


@_register(
    "kg_fuse_weighted",
    f"""
WITH fw AS (
  SELECT l_orderkey AS s, l_returnflag AS r, l_partkey AS o,
         l_quantity::BIGINT AS w
  FROM lineitem WHERE l_shipdate < TIMESTAMP '{_CUT}'
),
fw_sums AS (
  SELECT s, r, o, sum(w)::BIGINT AS w_sum FROM fw GROUP BY s, r, o
),
fw_w AS (
  SELECT s, r, max(struct_pack(w_sum := w_sum, o := o)) AS w,
         sum(w_sum)::BIGINT AS w_total, count(*)::BIGINT AS n_objects
  FROM fw_sums GROUP BY s, r
)
SELECT s::BIGINT AS s, r, w.o::BIGINT AS o_winner, w.w_sum AS w_winner,
       w_total, n_objects,
       (w.w_sum * 1000000 // w_total)::BIGINT AS margin_ppm
FROM fw_w
""",
)
def kg_fuse_weighted_q(spark, sf_dir):
    """Weight-aware knowledge fusion: per (subject, relation) the
    object with the greatest total integer weight wins (source-trust
    voting; weight = l_quantity as the stand-in trust score). Same
    two-cascade plan as kg_fuse_vote — second shuffle moves one row per
    distinct object."""
    from .canonicalize import fuse_weighted

    out = fuse_weighted(
        _target_sro(spark, sf_dir, F.col("l_quantity").cast("long").alias("w"))
    )
    return out.select(
        F.col("s").cast("bigint").alias("s"),
        "r",
        F.col("o_winner").cast("bigint").alias("o_winner"),
        "w_winner",
        "w_total",
        "n_objects",
        "margin_ppm",
    )


_CHAIN_FACTS_SQL = """
  cf AS (
    SELECT 'S' || s_suppkey AS s, 'based_in' AS r, 'N' || s_nationkey AS o
    FROM supplier
    UNION ALL
    SELECT 'N' || n_nationkey, 'part_of', 'R' || n_regionkey FROM nation
    UNION ALL
    SELECT 'S' || s.s_suppkey, 'located_in', 'R' || n.n_regionkey
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey % 3 <> 0
    UNION ALL
    SELECT 'C' || c_custkey, 'cust_in', 'N' || c_nationkey FROM customer
    UNION ALL
    SELECT 'C' || c.c_custkey, 'cust_region', 'R' || n.n_regionkey
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_custkey % 2 = 0
  )
"""


@_register(
    "kg_chain_rules",
    f"""
WITH {_CHAIN_FACTS_SQL},
cfd AS (SELECT DISTINCT s, r, o FROM cf),
paths AS (
  SELECT DISTINCT a.s AS x, b.o AS y, a.r AS r1, b.r AS r2
  FROM cfd a JOIN cfd b ON a.o = b.s
),
body_n AS (SELECT r1, r2, count(*)::BIGINT AS n_body FROM paths GROUP BY r1, r2),
sup AS (
  SELECT p.r1, p.r2, h.r AS r_head, count(*)::BIGINT AS support
  FROM paths p JOIN cfd h ON p.x = h.s AND p.y = h.o
  GROUP BY 1, 2, 3
)
SELECT s.r1, s.r2, s.r_head, s.support, b.n_body,
       (s.support * 1000000 // b.n_body)::BIGINT AS confidence_ppm
FROM sup s JOIN body_n b USING (r1, r2)
""",
)
def kg_chain_rules_q(spark, sf_dir):
    """AMIE-style 2-hop chain-rule mining over a 5-relation fact set
    with engineered partial implications: based_in(x,z) ∧ part_of(z,y)
    ⇒ located_in(x,y) holds for ~2/3 of suppliers, cust_in ∧ part_of ⇒
    cust_region for ~1/2 of customers — CWA confidence in integer ppm.
    Body join keyed on the shared variable z (the AMIE hub-skew point,
    documented in chain_rule_confidence); paths dedup before the head
    join."""
    from .datapipe.graph import chain_rule_confidence

    return chain_rule_confidence(_chain_facts_df(spark, sf_dir), min_support=1)


def _chain_facts_df(spark, sf_dir):
    """Spark twin of _CHAIN_FACTS_SQL (the 5-relation engineered fact
    universe shared by the rule-mining and rule-application queries)."""
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")

    def fact(df, s_expr, r_name, o_expr):
        return df.select(
            s_expr.alias("s"), F.lit(r_name).alias("r"), o_expr.alias("o")
        )

    sn = F.concat(F.lit("S"), F.col("s_suppkey").cast("string"))
    nn = F.concat(F.lit("N"), F.col("s_nationkey").cast("string"))
    facts = fact(sup, sn, "based_in", nn)
    facts = facts.unionByName(
        fact(
            nat,
            F.concat(F.lit("N"), F.col("n_nationkey").cast("string")),
            "part_of",
            F.concat(F.lit("R"), F.col("n_regionkey").cast("string")),
        )
    )
    sj = sup.join(nat, sup.s_nationkey == nat.n_nationkey).filter(
        F.col("s_suppkey") % 3 != 0
    )
    facts = facts.unionByName(
        fact(
            sj,
            F.concat(F.lit("S"), F.col("s_suppkey").cast("string")),
            "located_in",
            F.concat(F.lit("R"), F.col("n_regionkey").cast("string")),
        )
    )
    facts = facts.unionByName(
        fact(
            cust,
            F.concat(F.lit("C"), F.col("c_custkey").cast("string")),
            "cust_in",
            F.concat(F.lit("N"), F.col("c_nationkey").cast("string")),
        )
    )
    cj = cust.join(nat, cust.c_nationkey == nat.n_nationkey).filter(
        F.col("c_custkey") % 2 == 0
    )
    facts = facts.unionByName(
        fact(
            cj,
            F.concat(F.lit("C"), F.col("c_custkey").cast("string")),
            "cust_region",
            F.concat(F.lit("R"), F.col("n_regionkey").cast("string")),
        )
    )
    return facts


@_register(
    "kg_rule_infer",
    f"""
WITH {_CHAIN_FACTS_SQL},
ri_f AS (SELECT DISTINCT s, r, o FROM cf),
ri_paths AS (
  SELECT DISTINCT a.s AS x, b.o AS y, a.r AS r1, b.r AS r2
  FROM ri_f a JOIN ri_f b ON a.o = b.s),
ri_body AS (SELECT r1, r2, count(*)::BIGINT AS n_body FROM ri_paths GROUP BY 1, 2),
ri_sup AS (
  SELECT p.r1, p.r2, h.r AS r_head, count(*)::BIGINT AS support
  FROM ri_paths p JOIN ri_f h ON p.x = h.s AND p.y = h.o
  GROUP BY 1, 2, 3),
ri_rules AS (
  SELECT s.r1, s.r2, s.r_head,
         (s.support * 1000000 // b.n_body)::BIGINT AS confidence_ppm
  FROM ri_sup s JOIN ri_body b USING (r1, r2)
  WHERE s.support >= {RULE_MIN_SUP}
    AND (s.support * 1000000 // b.n_body) >= {RULE_MIN_CONF}),
ri_cand AS (
  SELECT p.x, r.r_head, p.y, r.r1, r.r2, r.confidence_ppm
  FROM ri_paths p JOIN ri_rules r USING (r1, r2)
  WHERE NOT EXISTS (SELECT 1 FROM ri_f f
                    WHERE f.s = p.x AND f.r = r.r_head AND f.o = p.y)),
ri_best AS (
  SELECT x, r_head, y,
         min(struct_pack(nc := -confidence_ppm, a := r1, b := r2)) AS k
  FROM ri_cand GROUP BY 1, 2, 3)
SELECT x AS s, r_head AS r, y AS o, k['a'] AS r1, k['b'] AS r2,
       (-k['nc'])::BIGINT AS confidence_ppm
FROM ri_best
""",
)
def kg_rule_infer_q(spark, sf_dir):
    """KB completion by mined rules — the application half of the AMIE
    loop: confident chain rules (≥0.3 conf, ≥5 support) propose head
    facts from body paths, known facts anti-join away, each new fact
    keeps its best supporting rule. On the engineered universe this
    reconstructs exactly the located_in/cust_region facts the fixture
    withheld (suppkey%3=0, odd custkeys) — mining completes the KG
    where evidence was dropped. Rules broadcast; candidate anti-join
    and best-rule groupBy keyed on the fact
    (datapipe/graph.py rule_based_inference)."""
    from .datapipe.graph import rule_based_inference

    return rule_based_inference(_chain_facts_df(spark, sf_dir))


@_register(
    "distant_supervision_sentences",
    f"""
WITH {{ALIGN_CTES}},
sd_seed AS (
  SELECT doc_id, replace(text, ' the ', '. the ') AS text FROM documents
),
sd_paras AS (
  SELECT doc_id, p, pidx
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS p,
               generate_subscripts(string_split(text, chr(10)), 1) AS pidx
        FROM sd_seed)
  WHERE length(p) > 0
),
sd_sents AS (
  SELECT doc_id, pidx, s, sidx
  FROM (SELECT doc_id, pidx,
               unnest(string_split(replace(p, '. ', '.' || chr(1)), chr(1))) AS s,
               generate_subscripts(string_split(replace(p, '. ', '.' || chr(1)), chr(1)), 1) AS sidx
        FROM sd_paras)
  WHERE trim(s) <> ''
),
sd_ordered AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY pidx, sidx) - 1 AS sent_idx,
         regexp_replace(s || ' ', '\\s{{2,}}', ' ', 'g') AS sent
  FROM sd_sents
),
sd_tok AS (
  SELECT DISTINCT doc_id, sent_idx, replace(tok0, '.', '') AS tok FROM (
    SELECT doc_id, sent_idx,
           unnest(string_split(lower(sent), ' ')) AS tok0
    FROM sd_ordered
  ) WHERE replace(tok0, '.', '') <> ''
),
sd_subj AS (
  SELECT t.doc_id, t.sent_idx, k.s_name, k.r, k.o_name
  FROM sd_tok t JOIN al_kb k ON t.tok = k.s_name
),
sd_hits AS (
  SELECT DISTINCT h.doc_id, h.sent_idx, h.s_name, h.r, h.o_name
  FROM sd_subj h
  JOIN sd_tok t2 ON h.doc_id = t2.doc_id AND h.sent_idx = t2.sent_idx
             AND h.o_name = t2.tok
)
SELECT s_name, r, o_name,
       count(*)::BIGINT AS n_sent_support,
       count(DISTINCT doc_id)::BIGINT AS n_doc_support
FROM sd_hits GROUP BY 1, 2, 3
""",
)
def distant_supervision_sentences_q(spark, sf_dir):
    """Sentence-bounded distant supervision — the REBEL construction
    grain: a KB triple counts as supported only where both endpoints
    share a SENTENCE (Riedel et al. 2010 at-least-one semantics).
    Composes the byte-identical sentence splitter (extract.sentences_df,
    with the seeded '. the ' boundary the sentence_split oracle uses)
    with the alignment tier's inverted-index joins; aggregates to
    per-triple sentence + document support."""
    from .datapipe.align import (
        distant_supervision_sentences,
        doc_tokens,
        pseudo_kb,
        sentence_tokens,
    )
    from .extract import sentences_df

    docs = _t(spark, sf_dir, "documents")
    kb = pseudo_kb(doc_tokens(docs))
    seeded = docs.select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" the "), F.lit(". the ")).alias("text"),
    )
    stoks = sentence_tokens(sentences_df(seeded))
    return distant_supervision_sentences(stoks, kb)


ORACLES["distant_supervision_sentences"] = ORACLES[
    "distant_supervision_sentences"
].replace("{ALIGN_CTES}", _align_sql().strip())


# -- Graph completions: k-core trim, relational SSSP, walk corpus ------------

_KCORE_K, _KCORE_ROUNDS = 2, 8


def _kg_kcore_sql() -> str:
    from .datapipe.graph import kcore_sql_chain

    r = _KCORE_ROUNDS
    return f"""
WITH {_KG_EDGES_SQL},
{kcore_sql_chain('kg_edges', _KCORE_K, r)}
SELECT v AS entity, count(*)::BIGINT AS core_deg FROM (
  SELECT a AS v FROM ku{r} UNION ALL SELECT b FROM ku{r}) GROUP BY v
"""


@_register("kg_kcore", None)
def kg_kcore_q(spark, sf_dir):
    """2-core of the constructed KG by fixed-round peeling — the
    standard pre-embedding quality trim (drop weakly-attached crawl
    debris). Fixed 8 rounds in BOTH engines (no-op past the fixpoint)
    so no driver-side convergence count; per round one partial-agg
    degree groupBy + two left-semi survivor joins
    (datapipe/graph.py kcore_fixed)."""
    from .datapipe.graph import kcore_fixed

    return kcore_fixed(
        _kg_edges_df(spark, sf_dir), k=_KCORE_K, rounds=_KCORE_ROUNDS
    )


ORACLES["kg_kcore"] = _kg_kcore_sql()


_SSSP_ROUNDS = 6


def _kg_sssp_sql() -> str:
    from .datapipe.graph import bellman_ford_sql_chain
    from .datapipe.hashes import h60_sql

    w = f"1 + ({h60_sql('src || chr(124) || dst')}) % 5"
    return f"""
WITH {_KG_EDGES_SQL},
seeds AS (SELECT DISTINCT 'O' || l_orderkey AS v FROM lineitem
          WHERE l_orderkey % {_KG_SEED_MOD} = 0),
{bellman_ford_sql_chain('kg_edges', 'seeds', _SSSP_ROUNDS, w)}
SELECT v AS entity, d AS dist FROM bf{_SSSP_ROUNDS}
"""


@_register("kg_sssp", None)
def kg_sssp_q(spark, sf_dir):
    """Multi-source shortest paths (relational Bellman-Ford, 6 fixed
    relaxation rounds) with deterministic integer edge weights
    ``1 + h60(src|dst) % 5`` from the order seed set. Integer mins are
    exact and associative — partition order can never move a distance.
    Per round: one edges⋈dist join + one partial-agg min groupBy
    (datapipe/graph.py bellman_ford_fixed)."""
    from .datapipe.graph import bellman_ford_fixed
    from .datapipe.hashes import h60

    e = _kg_edges_df(spark, sf_dir).withColumn(
        "w",
        F.lit(1).cast("long")
        + F.pmod(h60(F.concat("src", F.lit("|"), "dst")), F.lit(5)),
    )
    return bellman_ford_fixed(
        e, _kg_seeds_df(spark, sf_dir), rounds=_SSSP_ROUNDS, weight="w"
    )


ORACLES["kg_sssp"] = _kg_sssp_sql()


_WALK_STEPS = 4


def _kg_walks_sql() -> str:
    from .datapipe.graph import random_walks_sql_chain

    return f"""
WITH {_KG_EDGES_SQL},
seeds AS (SELECT DISTINCT 'O' || l_orderkey AS v FROM lineitem
          WHERE l_orderkey % {_KG_SEED_MOD} = 0),
{random_walks_sql_chain('kg_edges', 'seeds', _WALK_STEPS)}
SELECT walk_id, step, entity FROM rwall
"""


@_register("kg_random_walks", None)
def kg_random_walks_q(spark, sf_dir):
    """Deterministic random-walk corpus over the KG (the
    DeepWalk/node2vec training-data generator, p=q=1): one 4-step walk
    per order seed, transition = out-neighbor number
    ``affine_mix(h60(walk_id), step) mod out_deg`` in dst-sorted order.
    No RNG — walks are reproducible and re-runnable per shard, and the
    DuckDB oracle replays them exactly. Adjacency ranked once and
    reused each step; positions, not paths, flow between steps
    (datapipe/graph.py random_walks_fixed)."""
    from .datapipe.graph import random_walks_fixed

    return random_walks_fixed(
        _kg_edges_df(spark, sf_dir), _kg_seeds_df(spark, sf_dir),
        steps=_WALK_STEPS,
    )


ORACLES["kg_random_walks"] = _kg_walks_sql()


# -- Entity cards, pairwise link scoring, collocations -----------------------


@_register(
    "kg_entity_summary",
    f"""
WITH {_CHAIN_FACTS_SQL},
cfd AS (SELECT DISTINCT s, r, o FROM cf),
rel_n AS (SELECT r, count(*)::BIGINT AS rel_n FROM cfd GROUP BY r),
rk AS (
  SELECT s, r, o, rel_n,
         row_number() OVER (PARTITION BY s ORDER BY rel_n, r, o) AS rank
  FROM cfd JOIN rel_n USING (r))
SELECT s, r, o, rel_n, rank::INT AS rank FROM rk WHERE rank <= 2
""",
)
def kg_entity_summary_q(spark, sf_dir):
    """Entity summarization over the 5-relation fact universe: per
    subject the 2 most informative facts, informativeness = relation
    rarity (IDF intuition), deterministic (r, o) tiebreak. Broadcast
    relation-frequency annotate + ONE subject-keyed window — bounded
    top-k output, no global sort (datapipe/graph.py entity_summary)."""
    from .datapipe.graph import entity_summary

    return entity_summary(_chain_facts_df(spark, sf_dir))


@_register(
    "kg_resource_alloc",
    f"""
WITH {_CHAIN_FACTS_SQL},
cfd AS (SELECT DISTINCT s, o FROM cf),
deg AS (SELECT o AS z, count(*)::BIGINT AS dz FROM cfd GROUP BY o),
panel AS (
  SELECT 'S' || s.s_suppkey AS x, 'C' || min(c.c_custkey) AS y
  FROM supplier s JOIN customer c ON c.c_nationkey = s.s_nationkey
  WHERE s.s_suppkey % 3 = 1
  GROUP BY s.s_suppkey),
wedge AS (
  SELECT p.x, p.y, fx.o AS z
  FROM panel p
  JOIN cfd fx ON fx.s = p.x
  JOIN cfd fy ON fy.s = p.y AND fy.o = fx.o)
SELECT w.x, w.y, count(*)::BIGINT AS n_common,
       sum(1000000 // d.dz)::BIGINT AS ra_fp
FROM wedge w JOIN deg d ON d.z = w.z
GROUP BY 1, 2
""",
)
def kg_resource_alloc_q(spark, sf_dir):
    """Resource-Allocation link-prediction index (the integer-exact
    member of the Adamic-Adar family — 1/deg instead of float
    1/log deg) for a blocking-style candidate panel: each supplier
    (k%3=1, the located_in-covered stratum) paired with the min-key
    customer of its nation — the shape upstream ER candidate
    generation produces, with >=1 guaranteed common neighbor. All-pairs
    RA explodes d^2 on hub objects, so the operator scores a candidate
    panel — the ANN/LSH-candidates serving shape
    (datapipe/graph.py resource_allocation_index)."""
    from .datapipe.graph import resource_allocation_index

    sup = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    panel = (
        sup.filter(F.col("s_suppkey") % 3 == 1)
        .join(cust, sup.s_nationkey == cust.c_nationkey)
        .groupBy("s_suppkey")
        .agg(F.min("c_custkey").alias("minc"))
        .select(
            F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("x"),
            F.concat(F.lit("C"), F.col("minc").cast("string")).alias("y"),
        )
    )
    return resource_allocation_index(_chain_facts_df(spark, sf_dir), panel)


@_register(
    "collocations",
    """
WITH tw AS (SELECT string_split(lower(text), ' ') AS w0 FROM documents),
wf AS (SELECT list_filter(w0, t -> t <> '') AS w FROM tw),
tok AS (SELECT unnest(w) AS t FROM wf),
uc AS (SELECT t, count(*)::BIGINT AS c FROM tok GROUP BY t),
nt AS (SELECT count(*)::BIGINT AS n FROM tok),
pr AS (
  SELECT unnest(CASE WHEN len(w) >= 2
    THEN list_transform(range(1, len(w)), i -> {'w1': w[i], 'w2': w[i + 1]})
    ELSE [] END) AS p
  FROM wf),
pc AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*)::BIGINT AS c_xy
       FROM pr GROUP BY 1, 2 HAVING count(*) >= 5),
j AS (
  SELECT w1 || ' ' || w2 AS bigram, c_xy, ux.c AS c_x, uy.c AS c_y,
         (((c_xy * 1000000) // ux.c) * (SELECT n FROM nt) // uy.c)::BIGINT
           AS lift_ppm
  FROM pc JOIN uc ux ON ux.t = pc.w1 JOIN uc uy ON uy.t = pc.w2)
SELECT bigram, c_xy, c_x, c_y, lift_ppm FROM j
ORDER BY lift_ppm DESC, bigram LIMIT 20
""",
)
def collocations_q(spark, sf_dir):
    """Collocation mining: top-20 adjacent bigrams by integer PMI-lift
    (observed/expected in ppm; log-free so engine-exact), min count 5
    against hapax noise. Row-local pair generation, two partial-agg
    count groupBys, lazy 1-row total, TakeOrderedAndProject top-k
    (datapipe/textstats.py collocation_lift)."""
    from .datapipe.textstats import collocation_lift

    return collocation_lift(_t(spark, sf_dir, "documents"))


def _prefix_jaccard_sql() -> str:
    # the oracle is the EXHAUSTIVE exact-Jaccard join — deliberately NOT a
    # mirror of the prefix-filtered plan, so a wrong prefix bound (lost
    # candidate pairs) fails the hash gate instead of reproducing itself.
    return f"""
WITH {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS nc
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       ((nc * 1000000) // (sa.n + sb.n - nc))::BIGINT AS jaccard_ppm
FROM common JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE nc * (1000000 + 500000) >= 500000 * (sa.n + sb.n)
"""


@_register("dedup_jaccard_prefix", None)
def dedup_jaccard_prefix_q(spark, sf_dir):
    """AllPairs/PPJoin prefix-filtered exact-Jaccard near-dup pairs
    (threshold 0.5): per-doc rarest-shingle prefixes generate the
    candidates (no global rank — only a doc-partitioned window), full
    intersection verifies. Oracle is the EXHAUSTIVE join: the gate
    proves the prefix filter is lossless
    (datapipe/dedup.py prefix_jaccard_pairs)."""
    from .datapipe.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(_t(spark, sf_dir, "documents"))


ORACLES["dedup_jaccard_prefix"] = _prefix_jaccard_sql()


_TFIDF_COS_SQL = f"""
WITH {_SHINGLES_SQL},
post AS (SELECT shingle AS t, doc_id, count(*)::BIGINT AS tf
         FROM sh GROUP BY 1, 2),
nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
dfr AS (SELECT t, count(*)::BIGINT AS df FROM post GROUP BY 1
        HAVING count(*) <= 50),
wt AS (SELECT post.t, post.doc_id,
             (post.tf * least(nd.n_docs // dfr.df, 100))::BIGINT AS w
      FROM post JOIN dfr ON dfr.t = post.t CROSS JOIN nd),
ss AS (SELECT doc_id, sum(w * w)::BIGINT AS ss FROM wt GROUP BY 1),
dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                sum(a.w * b.w)::BIGINT AS dot
         FROM wt a JOIN wt b ON a.t = b.t AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
SELECT id_a, id_b,
       ((((dot * 1000000) // sa.ss) * dot) // sb.ss)::BIGINT AS cos2_ppm
FROM dots JOIN ss sa ON sa.doc_id = id_a JOIN ss sb ON sb.doc_id = id_b
WHERE (((dot * 1000000) // sa.ss) * dot) // sb.ss >= 250000
"""


@_register("dedup_tfidf_cosine", _TFIDF_COS_SQL)
def dedup_tfidf_cosine_q(spark, sf_dir):
    """TF-IDF-weighted sparse cosine similarity join (cos^2 >= 0.25)
    over 3-shingle features: capped linear rarity weights (engine-exact
    stand-in for log-IDF), df-cut blocking bounds the posting
    self-join's hottest key, squared cosine via two staged integer
    floor-divides — no floats anywhere (datapipe/dedup.py
    tfidf_cosine_pairs)."""
    from .datapipe.dedup import tfidf_cosine_pairs

    return tfidf_cosine_pairs(_t(spark, sf_dir, "documents"))


_OUTLIERS_SQL = """
WITH st AS (
  SELECT source,
         (sum(n_chars) // count(*))::BIGINT AS mean,
         ((sum(n_chars * n_chars) // count(*))
          - (sum(n_chars) // count(*)) * (sum(n_chars) // count(*)))::BIGINT
           AS var
  FROM documents GROUP BY 1)
SELECT d.source, d.doc_id, d.n_chars::BIGINT AS value, st.mean, st.var
FROM documents d JOIN st ON st.source = d.source
WHERE (d.n_chars - st.mean) * (d.n_chars - st.mean)
      > 2 * greatest(st.var, 1)
"""


@_register("length_outliers", _OUTLIERS_SQL)
def length_outliers_q(spark, sf_dir):
    """Per-source length outliers by integer-moment z^2 test
    ((x-mean)^2 > 2*var, floor-arithmetic moments — engine-exact, no
    float): group moments are one partial-agg groupBy broadcast back
    onto the scan; centered form keeps squares in signed-64 at any
    group size (datapipe/textstats.py length_outliers)."""
    from .datapipe.textstats import length_outliers

    return length_outliers(_t(spark, sf_dir, "documents"))


@_register(
    "kg_bgp_match",
    f"""
WITH {_CHAIN_FACTS_SQL}
SELECT DISTINCT c.s AS cust, b.o AS n, p.o AS reg, b.s AS sup
FROM cf b
JOIN cf p ON p.r = 'part_of' AND p.s = b.o
JOIN cf c ON c.r = 'cust_in' AND c.o = b.o
WHERE b.r = 'based_in'
""",
)
def kg_bgp_match_q(spark, sf_dir):
    """SPARQL-style BGP query over the fact universe: the pattern
    [(?sup based_in ?n), (?n part_of ?reg), (?cust cust_in ?n)] —
    suppliers and customers co-located in a nation, with its region —
    compiled to a join plan by ~30 lines of pattern compiler; Catalyst
    picks the join order and broadcasts the selective constant-bound
    sides (datapipe/graph.py bgp_match)."""
    from .datapipe.graph import bgp_match

    return bgp_match(
        _chain_facts_df(spark, sf_dir),
        [
            ("?sup", "based_in", "?n"),
            ("?n", "part_of", "?reg"),
            ("?cust", "cust_in", "?n"),
        ],
    )


@_register(
    "kg_bgp_optional",
    f"""
WITH {_CHAIN_FACTS_SQL},
req AS (SELECT DISTINCT s AS cust, o AS n FROM cf WHERE r = 'cust_in'),
opt AS (SELECT DISTINCT s AS cust, o AS cr FROM cf WHERE r = 'cust_region')
SELECT DISTINCT req.cust, opt.cr, req.n
FROM req LEFT JOIN opt ON opt.cust = req.cust
""",
)
def kg_bgp_optional_q(spark, sf_dir):
    """SPARQL OPTIONAL through the BGP compiler: (?cust cust_in ?n)
    OPTIONAL (?cust cust_region ?cr) — the left join keeps customers
    with null region bindings (cust_region exists only for even keys,
    so half the bindings are genuinely null)
    (datapipe/graph.py bgp_match optionals=)."""
    from .datapipe.graph import bgp_match

    return bgp_match(
        _chain_facts_df(spark, sf_dir),
        [("?cust", "cust_in", "?n")],
        optionals=[("?cust", "cust_region", "?cr")],
    )


@_register(
    "kg_bgp_negation",
    f"""
WITH {_CHAIN_FACTS_SQL},
req AS (SELECT DISTINCT s AS sup, o AS n FROM cf WHERE r = 'based_in')
SELECT DISTINCT sup, n FROM req
WHERE NOT EXISTS (
  SELECT 1 FROM cf x WHERE x.r = 'located_in' AND x.s = req.sup)
""",
)
def kg_bgp_negation_q(spark, sf_dir):
    """SPARQL FILTER NOT EXISTS through the BGP compiler: suppliers
    based in a nation with NO located_in fact (every third supplier by
    construction) — compiles to a left-anti join on the shared variable
    (datapipe/graph.py bgp_match negations=)."""
    from .datapipe.graph import bgp_match

    return bgp_match(
        _chain_facts_df(spark, sf_dir),
        [("?sup", "based_in", "?n")],
        negations=[("?sup", "located_in", "?r2")],
    )


_TERM_LIFT_SQL = """
WITH tw AS (
  SELECT lang AS cls,
         unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS t
  FROM documents),
ct AS (SELECT cls, t, count(*)::BIGINT AS tf_c FROM tw GROUP BY 1, 2),
tt AS (SELECT t, sum(tf_c)::BIGINT AS tf FROM ct GROUP BY 1
       HAVING sum(tf_c) >= 5),
nc AS (SELECT cls, sum(tf_c)::BIGINT AS n_c FROM ct GROUP BY 1),
na AS (SELECT sum(tf_c)::BIGINT AS n_all FROM ct),
lf AS (SELECT ct.cls, ct.t, tf_c, tf,
              (((tf_c * 1000000) // tf) * n_all // n_c)::BIGINT AS lift_ppm
       FROM ct JOIN tt ON tt.t = ct.t
       JOIN nc ON nc.cls = ct.cls
       CROSS JOIN na),
rk AS (SELECT *, row_number() OVER (PARTITION BY cls
                                    ORDER BY lift_ppm DESC, t ASC) AS rank
       FROM lf)
SELECT cls, t, tf_c, tf, lift_ppm, rank FROM rk WHERE rank <= 10
"""


@_register("class_term_lift", _TERM_LIFT_SQL)
def class_term_lift_q(spark, sf_dir):
    """Discriminative vocabulary per language class: top-10 terms per
    class by in-class-rate / corpus-rate lift (integer ppm, two-step
    floor), min corpus df 5. One corpus explosion feeds both censuses;
    the ranking window runs over the (class × vocab)-bounded term
    census (datapipe/textstats.py class_term_lift)."""
    from .datapipe.textstats import class_term_lift

    return class_term_lift(_t(spark, sf_dir, "documents"))


_NOVELTY_SQL = f"""
WITH {{shingles}},
ref AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0),
newg AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 2 = 1),
per AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
               sum(CASE WHEN ref.shingle IS NULL THEN 1 ELSE 0 END)::BIGINT
                 AS n_novel
        FROM newg LEFT JOIN ref ON ref.shingle = newg.shingle
        GROUP BY 1)
SELECT doc_id, n_grams, n_novel,
       ((n_novel * 1000000) // n_grams)::BIGINT AS novelty_ppm
FROM per
""".format(shingles=_SHINGLES_SQL)


@_register("novelty_rate", _NOVELTY_SQL)
def novelty_rate_q(spark, sf_dir):
    """Per-document n-gram novelty of the odd-id corpus half against
    the even-id reference half — the ingest-freshness audit: distinct
    reference shingles once, ONE gram-keyed equi-join membership test
    (no broadcast assumption — the reference side is corpus-sized),
    per-doc partial-agg tallies (datapipe/dedup.py ngram_novelty)."""
    from .datapipe.dedup import ngram_novelty

    docs = _t(spark, sf_dir, "documents")
    return ngram_novelty(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


_VOCAB_GROWTH_SQL = f"""
WITH {{shingles}},
fs AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1),
mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
dg AS (SELECT (first_doc * 10) // m AS decile, count(*)::BIGINT AS n_new
       FROM fs CROSS JOIN mx GROUP BY 1)
SELECT decile::BIGINT AS decile, n_new AS n_new_grams,
       (sum(n_new) OVER (ORDER BY decile))::BIGINT AS cum_grams
FROM dg
""".format(shingles=_SHINGLES_SQL)


@_register("vocab_growth", _VOCAB_GROWTH_SQL)
def vocab_growth_q(spark, sf_dir):
    """Heaps'-law vocabulary-saturation curve: new distinct 3-shingles
    contributed by each corpus decile (deterministic doc_id order) plus
    the cumulative count — one partial-agg first-occurrence groupBy, a
    row-local decile label against the broadcast max id, and a
    bucket-sized cumulative window (datapipe/dedup.py vocab_growth)."""
    from .datapipe.dedup import vocab_growth

    return vocab_growth(_t(spark, sf_dir, "documents"))


# --- incremental (nightly-batch) near-dup check -----------------------------


def _incr_oracle() -> str:
    from .datapipe.hashes import h60_salted_sql

    memb = f"({h60_salted_sql('doc_id::VARCHAR', chr(39) + 'incr' + chr(39))} % 1000) < 800"
    return f"""
WITH {_minhash_banded_sql("documents")},
memb AS (SELECT doc_id, {memb} AS is_old FROM documents),
cand AS (
  SELECT DISTINCT bn.doc_id AS new_id, bo.doc_id AS old_id
  FROM banded bn JOIN memb mn ON mn.doc_id = bn.doc_id AND NOT mn.is_old
  JOIN banded bo ON bo.band = bn.band AND bo.bkey = bn.bkey
  JOIN memb mo ON mo.doc_id = bo.doc_id AND mo.is_old),
est AS (
  SELECT c.new_id,
         len(list_filter(list_zip(sn.sig, so.sig),
                         p -> p[1] = p[2]))::DOUBLE / {MINHASH_N} AS ej
  FROM cand c JOIN sig sn ON c.new_id = sn.doc_id
              JOIN sig so ON c.old_id = so.doc_id),
m AS (SELECT new_id, count(*)::BIGINT AS n_index_matches,
             round(max(ej), 6) AS best_est_jaccard
      FROM est WHERE ej >= {MINHASH_T} GROUP BY 1)
SELECT d.doc_id,
       coalesce(m.n_index_matches, 0)::BIGINT AS n_index_matches,
       m.best_est_jaccard
FROM documents d JOIN memb ON memb.doc_id = d.doc_id AND NOT memb.is_old
LEFT JOIN m ON m.new_id = d.doc_id
"""


@_register("dedup_incremental", None)
def dedup_incremental_q(spark, sf_dir):
    """Nightly-batch near-dup check: the corpus split 80/20 by id hash
    into standing index vs tonight's batch; batch band keys collide
    against the index side's banded_keys, recomputed per call (no
    stored index), candidates verified by
    signature-estimated Jaccard. One row per batch doc with its index
    match count — ``n_index_matches = 0`` is the append set
    (datapipe/dedup.py incremental_lsh_matches)."""
    from .datapipe.dedup import incremental_lsh_matches
    from .datapipe.hashes import h60_salted

    docs = _t(spark, sf_dir, "documents")
    is_old = (
        F.pmod(h60_salted(F.col("doc_id").cast("string"), F.lit("incr")), F.lit(1000))
        < 800
    )
    return incremental_lsh_matches(docs.filter(is_old), docs.filter(~is_old))


ORACLES["dedup_incremental"] = _incr_oracle()
