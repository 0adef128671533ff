"""Sources & sinks: the reference's scan operators, Spark-native (SURVEY §2.1).

S1  KILT JSONL scan           (reference genie/datamodule/datasets.py:148-155)
S2  paired .source/.target    (datasets.py:32-39)
S4  Wikidata dump routing     (genie/datamodule/initial_preprocessing/
                               process_wikidata_dump.py:51-111)
S5  relation-set scan         (datasets.py:134-139)
S6  catalog scan + unique-id  (genie/datamodule/utils/surface_forms_utils.py:250-262)
S7  per-partition JSONL sink  (genie/models/genie_base_pl.py:275-297)

All scans declare explicit schemas (the reference probes JSON keys with
`in`-checks; we fail fast instead) so Catalyst can prune columns and the
JSON parser never infers types by sampling — at 100 TB an inference pass
over the input is a full extra scan.
"""

from __future__ import annotations

from typing import Set, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

TRIPLE_TYPE = ArrayType(
    StructType(
        [
            StructField("s", StringType()),
            StructField("r", StringType()),
            StructField("o", StringType()),
        ]
    )
)

# KILT row as this engine materializes it (FIXTURES.md §3; a projection of
# the reference's nested output[] objects into the columns every operator
# actually consumes — datasets.py:92-124)
KILT_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("input", StringType()),
        StructField("target", StringType()),
        StructField("surface_triples", TRIPLE_TYPE),
        StructField("id_triples", TRIPLE_TYPE),
        StructField("instance_matching_status", StringType()),
    ]
)


def read_kilt(spark: SparkSession, path: str) -> DataFrame:
    """S1: one JSON object per line, explicit schema (no inference scan)."""
    return spark.read.schema(KILT_SCHEMA).json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "append") -> None:
    """S7: the per-rank append sink collapses to a plain partitioned write —
    each task writes its own file; globally consistent without any gather
    (the reference needed an explicit DDP all_gather for one file,
    genie_base_pl.py:299-344)."""
    df.write.mode(mode).json(path)


def read_paired_text(
    spark: SparkSession, source_path: str, target_path: str
) -> DataFrame:
    """S2: line-aligned {split}.source / {split}.target files →
    (line_id, src, trg).

    Line alignment is positional, so we zip by per-file line index.
    ``monotonically_increasing_id`` is NOT line-stable across splits;
    zipWithIndex is (it assigns global in-file order). This is the one
    deliberate RDD touch in the engine — a positional file format forces
    it; at scale, prefer a single table with both columns."""

    def indexed(path, col):
        rdd = spark.sparkContext.textFile(path).zipWithIndex().map(
            lambda t: (t[1], t[0])
        )
        return spark.createDataFrame(rdd, ["line_id", col])

    src = indexed(source_path, "src")
    trg = indexed(target_path, "trg")
    return src.join(trg, "line_id", "inner").select("line_id", "src", "trg")


WIKIDATA_DUMP_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField(
            "labels",
            StructType([StructField("en", StructType([StructField("value", StringType())]))]),
        ),
        StructField(
            "descriptions",
            StructType([StructField("en", StructType([StructField("value", StringType())]))]),
        ),
        StructField(
            "aliases",
            StructType(
                [StructField("en", ArrayType(StructType([StructField("value", StringType())])))]
            ),
        ),
        StructField(
            "sitelinks",
            StructType([StructField("enwiki", StructType([StructField("title", StringType())]))]),
        ),
    ]
)


def route_wikidata_dump(dump: DataFrame) -> Tuple[DataFrame, DataFrame]:
    """S4/F9: split a Wikidata JSON dump into (entities, relations) with
    projected English label/aliases/description.

    Reference semantics (process_wikidata_dump.py:69-111): ids starting
    with 'P' are relations; everything else must carry an enwiki sitelink
    to survive. One scan, two filtered projections — Catalyst merges the
    shared subtree when both outputs are written in the same job."""
    projected = dump.select(
        "id",
        F.col("labels.en.value").alias("label"),
        F.col("descriptions.en.value").alias("description"),
        F.transform(F.col("aliases.en"), lambda a: a["value"]).alias("aliases"),
        F.col("sitelinks.enwiki.title").alias("enwiki_title"),
    )
    relations = projected.filter(F.col("id").startswith("P")).drop("enwiki_title")
    entities = projected.filter(
        (~F.col("id").startswith("P")) & F.col("enwiki_title").isNotNull()
    )
    return entities, relations


# per-sample record of a reference evaluation run (testing_output.json);
# the reference accepts two key spellings per field (DefaultGetter,
# genie/utils/evaluation.py:129-164): raw_input|input, guess|prediction,
# raw_output|target
TESTING_OUTPUT_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("raw_input", StringType()),
        StructField("input", StringType()),
        StructField("guess", StringType()),
        StructField("prediction", StringType()),
        StructField("raw_output", StringType()),
        StructField("target", StringType()),
    ]
)


def read_testing_output(spark: SparkSession, path: str) -> DataFrame:
    """Scan a reference ``testing_output.json`` run and parse it straight
    into the evaluation layer's input shape (id, input, pred, target with
    triple-set columns) — a reference user can point
    :func:`genie_spark.evaluation.evaluate_dataset` at their existing
    output files without re-running inference. Triple parsing matches
    TripletUtils.convert_text_sequence_to_text_triples (dedup'd set
    semantics) via the Column form."""
    from .triples import parse_triples_col

    raw = spark.read.schema(TESTING_OUTPUT_SCHEMA).json(path)
    return raw.select(
        "id",
        F.coalesce("raw_input", "input").alias("input"),
        parse_triples_col("coalesce(guess, prediction, '')").alias("pred"),
        parse_triples_col("coalesce(raw_output, target, '')").alias("target"),
    )


def catalog_from_dump(
    entities: DataFrame, relations: DataFrame
) -> Tuple[DataFrame, DataFrame]:
    """S4→S6 bridge (reference init_surface_form_dicts.py:1-27 with
    utils.read_and_process_entity_dict/:read_and_process_relations_dict,
    utils.py:71-104): entity surface form = enwiki title, relation surface
    form = English label, both recorded with 'en_title' provenance
    (set_dict wraps the base dicts as en_title,
    surface_forms_utils.py:270-276). Ids whose name is shared by another
    id are deleted on BOTH sides (get_duplicate_values → del) — exactly
    ``dedup_catalog``'s ambiguous-name drop — and special-token names are
    rejected (F10). Returns (ent_catalog, rel_catalog) ready for
    ``surface_to_id`` / ``trie_from_names`` / ``annotate_kilt``."""
    from .canonicalize import dedup_catalog

    ent = entities.select(
        "id",
        F.col("enwiki_title").alias("name"),
        F.lit("en_title").alias("provenance"),
    ).filter(F.col("name").isNotNull())
    rel = relations.select(
        "id", F.col("label").alias("name"), F.lit("en_title").alias("provenance")
    ).filter(F.col("name").isNotNull())
    return (
        dedup_catalog(filter_invalid_names(ent)),
        dedup_catalog(filter_invalid_names(rel)),
    )


def read_relation_set(spark: SparkSession, path: str) -> Set[str]:
    """S5: JSONL of relation names → broadcast-ready Python set (tiny —
    the reference's worlds are ≤ ~800 relations)."""
    schema = StructType([StructField("relation", StringType())])
    rows = spark.read.schema(schema).json(path).collect()
    return {r["relation"] for r in rows if r["relation"] is not None}


CATALOG_SCHEMA = StructType(
    [
        StructField("wikidata_id", StringType()),
        StructField(
            "information",
            StructType(
                [
                    StructField("en_title", StringType()),
                    StructField("en_label", StringType()),
                ]
            ),
        ),
    ]
)


# F10 (reference notebooks/Demo.ipynb map_ids_to_names,
# invalid_tokens={" <"}): a surface form containing a structural token
# would open a tag mid-name and corrupt the linearization grammar.
INVALID_NAME_TOKENS = (" <",)


def filter_invalid_names(catalog: DataFrame) -> DataFrame:
    """F10: drop catalog entries whose name contains any invalid token."""
    out = catalog
    for t in INVALID_NAME_TOKENS:
        out = out.filter(~F.col("name").contains(t))
    return out


def read_catalog(spark: SparkSession, path: str) -> DataFrame:
    """S6 + X8 + F10: {wikidata_id, information} JSONL → (id, name,
    provenance) dimension, preferring en_title over en_label
    (surface_forms_utils.py:250-262, 297-308), special-token names
    rejected (Demo.ipynb predicate). Uniqueness is asserted the
    distributed way — a groupBy-count instead of dict insertion checks."""
    raw = spark.read.schema(CATALOG_SCHEMA).json(path)
    dim = filter_invalid_names(
        raw.select(
            F.col("wikidata_id").alias("id"),
            F.coalesce(
                F.col("information.en_title"), F.col("information.en_label")
            ).alias("name"),
            F.when(F.col("information.en_title").isNotNull(), "en_title")
            .otherwise("en_label")
            .alias("provenance"),
        ).filter(F.col("name").isNotNull())
    )
    dups = dim.groupBy("id").count().filter(F.col("count") > 1).limit(1).collect()
    if dups:
        raise ValueError(f"duplicate catalog id: {dups[0]['id']}")
    return dim
