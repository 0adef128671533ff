"""Source/sink operators (SURVEY §2.1) on tiny temp files."""

import json
import os

import pytest
from pyspark.sql import functions as F

from genie_spark.sources import (
    read_catalog,
    read_kilt,
    read_paired_text,
    read_relation_set,
    route_wikidata_dump,
    write_jsonl,
    WIKIDATA_DUMP_SCHEMA,
)


def _write_lines(path, lines):
    with open(path, "w") as f:
        for l in lines:
            f.write(l + "\n")


def test_read_kilt_schema_and_rows(spark, tmp_path):
    rows = [
        {
            "id": "a",
            "input": "Alice lives in Zurich.",
            "target": " <sub> Alice <rel> residence <obj> Zurich <et>",
            "surface_triples": [{"s": "Alice", "r": "residence", "o": "Zurich"}],
            "id_triples": [{"s": "Q1", "r": "P2", "o": "Q3"}],
            "instance_matching_status": "title",
        },
        {"id": "b", "input": "x", "target": "", "surface_triples": [],
         "id_triples": [], "instance_matching_status": "label"},
    ]
    p = tmp_path / "kilt.jsonl"
    _write_lines(p, [json.dumps(r) for r in rows])
    df = read_kilt(spark, str(p))
    got = {r["id"]: r for r in df.collect()}
    assert got["a"]["surface_triples"][0]["o"] == "Zurich"
    assert got["b"]["instance_matching_status"] == "label"
    assert df.schema["surface_triples"].dataType.elementType["r"].dataType.typeName() == "string"


def test_write_jsonl_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], ["id", "v"])
    out = str(tmp_path / "out")
    write_jsonl(df, out)
    back = spark.read.json(out)
    assert sorted((r["id"], r["v"]) for r in back.collect()) == [("a", 1), ("b", 2)]


def test_read_paired_text_alignment(spark, tmp_path):
    src = tmp_path / "test.source"
    trg = tmp_path / "test.target"
    _write_lines(src, [f"sentence {i}" for i in range(50)])
    _write_lines(trg, [f"target {i}" for i in range(50)])
    df = read_paired_text(spark, str(src), str(trg))
    rows = {r["line_id"]: (r["src"], r["trg"]) for r in df.collect()}
    assert len(rows) == 50
    for i in range(50):
        assert rows[i] == (f"sentence {i}", f"target {i}")


def test_route_wikidata_dump(spark, tmp_path):
    recs = [
        {"id": "Q1", "labels": {"en": {"value": "Alice"}},
         "sitelinks": {"enwiki": {"title": "Alice"}}},
        {"id": "Q2", "labels": {"en": {"value": "NoSitelink"}}},  # dropped
        {"id": "P5", "labels": {"en": {"value": "author"}},
         "aliases": {"en": [{"value": "written by"}]}},
    ]
    p = tmp_path / "dump.jsonl"
    _write_lines(p, [json.dumps(r) for r in recs])
    dump = spark.read.schema(WIKIDATA_DUMP_SCHEMA).json(str(p))
    ents, rels = route_wikidata_dump(dump)
    assert [r["id"] for r in ents.collect()] == ["Q1"]
    rel_rows = rels.collect()
    assert [r["id"] for r in rel_rows] == ["P5"]
    assert rel_rows[0]["aliases"] == ["written by"]


def test_catalog_from_dump(spark, tmp_path):
    """Dump -> catalog bridge: entity name = enwiki title, relation name =
    label, duplicate names deleted on both sides, special-token names
    rejected — the full S4->S6 chain."""
    from genie_spark.sources import catalog_from_dump

    recs = [
        {"id": "Q1", "labels": {"en": {"value": "alice label"}},
         "sitelinks": {"enwiki": {"title": "Alice"}}},
        # duplicate title: BOTH Q2 and Q3 must be deleted
        {"id": "Q2", "sitelinks": {"enwiki": {"title": "Springfield"}}},
        {"id": "Q3", "sitelinks": {"enwiki": {"title": "Springfield"}}},
        # special-token title rejected (F10)
        {"id": "Q4", "sitelinks": {"enwiki": {"title": "Weird <obj> page"}}},
        {"id": "P5", "labels": {"en": {"value": "author"}}},
        {"id": "P6", "labels": {"en": {"value": "author"}}},  # dup label
        {"id": "P7", "labels": {"en": {"value": "place of birth"}}},
    ]
    p = tmp_path / "dump2.jsonl"
    _write_lines(p, [json.dumps(r) for r in recs])
    dump = spark.read.schema(WIKIDATA_DUMP_SCHEMA).json(str(p))
    ent_cat, rel_cat = catalog_from_dump(*route_wikidata_dump(dump))
    ents = {r["id"]: (r["name"], r["provenance"]) for r in ent_cat.collect()}
    assert ents == {"Q1": ("Alice", "en_title")}
    rels = {r["id"]: r["name"] for r in rel_cat.collect()}
    assert rels == {"P7": "place of birth"}


def test_read_relation_set(spark, tmp_path):
    p = tmp_path / "rels.jsonl"
    _write_lines(p, [json.dumps({"relation": n}) for n in ["author", "place"]])
    assert read_relation_set(spark, str(p)) == {"author", "place"}


def test_read_catalog_provenance_and_uniqueness(spark, tmp_path):
    p = tmp_path / "cat.jsonl"
    _write_lines(
        p,
        [
            json.dumps({"wikidata_id": "Q1", "information": {"en_title": "Alice"}}),
            json.dumps({"wikidata_id": "Q2", "information": {"en_label": "bob"}}),
        ],
    )
    dim = read_catalog(spark, str(p))
    got = {r["id"]: (r["name"], r["provenance"]) for r in dim.collect()}
    assert got == {"Q1": ("Alice", "en_title"), "Q2": ("bob", "en_label")}

    dup = tmp_path / "dup.jsonl"
    _write_lines(
        dup,
        [
            json.dumps({"wikidata_id": "Q1", "information": {"en_title": "A"}}),
            json.dumps({"wikidata_id": "Q1", "information": {"en_title": "B"}}),
        ],
    )
    with pytest.raises(ValueError, match="duplicate catalog id"):
        read_catalog(spark, str(dup))


def test_read_catalog_rejects_special_token_names(spark, tmp_path):
    """F10 (Demo.ipynb map_ids_to_names, invalid_tokens={' <'}): a name
    containing ' <' would open a tag mid-name; it must never enter the
    catalog dimension."""
    from genie_spark.sources import filter_invalid_names

    p = tmp_path / "cat_bad.jsonl"
    _write_lines(
        p,
        [
            json.dumps({"wikidata_id": "Q1", "information": {"en_title": "Alice"}}),
            json.dumps({"wikidata_id": "Q2", "information": {"en_title": "Bad <sub> name"}}),
            json.dumps({"wikidata_id": "Q3", "information": {"en_label": "x < y"}}),
            json.dumps({"wikidata_id": "Q4", "information": {"en_title": "A<B"}}),
        ],
    )
    dim = read_catalog(spark, str(p))
    got = {r["id"]: r["name"] for r in dim.collect()}
    # ' <' names rejected; '<' without a leading space is fine (reference
    # predicate is substring ' <')
    assert got == {"Q1": "Alice", "Q4": "A<B"}

    cat = spark.createDataFrame(
        [("Q9", "ok name", "en_title"), ("Q10", "oops <rel", "en_title")],
        ["id", "name", "provenance"],
    )
    assert [r["id"] for r in filter_invalid_names(cat).collect()] == ["Q9"]


def test_iceberg_fallback_paths(spark, tmp_path):
    """Without the Iceberg runtime (this sandbox), write_table/read_table
    must take the parquet fallback with identical layout."""
    from genie_spark.iceberg import iceberg_available, read_table, write_table

    assert iceberg_available(spark) is False  # sandbox has no runtime jar
    df = spark.createDataFrame([("a", "P1"), ("b", "P2")], ["subj", "pred"])
    out = str(tmp_path / "graph")
    kind = write_table(df, "genie.graph", out, mode="overwrite", partition_by="pred")
    assert kind == "parquet"
    back = read_table(spark, "genie.graph", out)
    assert sorted((r["subj"], r["pred"]) for r in back.collect()) == [
        ("a", "P1"), ("b", "P2"),
    ]
    import os
    assert os.path.isdir(os.path.join(out, "pred=P1"))  # same partition layout


def test_read_testing_output_feeds_evaluation(spark, tmp_path):
    """The reference's testing_output.json (either key spelling) scans
    straight into the evaluation layer: parsed triple sets, dedup'd,
    scorable by evaluate_dataset."""
    from genie_spark.evaluation import evaluate_dataset
    from genie_spark.sources import read_testing_output

    p = tmp_path / "testing_output.jsonl"
    _write_lines(
        p,
        [
            json.dumps({"id": "0", "raw_input": "s1",
                        "guess": " <sub> A <rel> r <obj> B <et> <sub> A <rel> r <obj> B <et>",
                        "raw_output": " <sub> A <rel> r <obj> B <et>"}),
            json.dumps({"id": "1", "input": "s2",
                        "prediction": " <sub> C <rel> r <obj> D <et>",
                        "target": " <sub> E <rel> r <obj> F <et>"}),
        ],
    )
    df = read_testing_output(spark, str(p))
    rows = {r["id"]: r for r in df.collect()}
    assert rows["0"]["input"] == "s1" and rows["1"]["input"] == "s2"
    assert [tuple(t) for t in rows["0"]["pred"]] == [("A", "r", "B")]  # dedup'd
    scores = evaluate_dataset(df)["micro"]
    assert scores["precision"] == 0.5 and scores["recall"] == 0.5
