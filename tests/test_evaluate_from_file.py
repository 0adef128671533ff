"""evaluate_from_file CLI: the reference's from-file evaluation entry
point must reproduce the library metrics and leave the same artifacts."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

import evaluate_from_file


@pytest.fixture()
def run_files(tmp_path):
    lin = " <sub> {} <rel> {} <obj> {} <et>"
    rows = [
        {"id": "1", "input": "a", "guess": lin.format("A", "r1", "B"),
         "target": lin.format("A", "r1", "B")},
        {"id": "2", "input": "b", "guess": lin.format("C", "r2", "D"),
         "target": lin.format("C", "r1", "D")},
        {"id": "3", "input": "c", "guess": "",
         "target": lin.format("E", "r2", "F")},
    ]
    out = tmp_path / "testing_output.json"
    out.write_text("\n".join(json.dumps(r) for r in rows))
    rels = tmp_path / "rels.jsonl"
    rels.write_text('{"relation": "r1"}\n')
    return str(out), str(rels)


def test_cli_metrics_and_artifacts(spark, tmp_path, run_files, capsys):
    out_path, _ = run_files
    out_dir = str(tmp_path / "eval")
    results = evaluate_from_file.main(
        ["--input", out_path, "--output-dir", out_dir]
    )
    # micro: 1 correct of 2 predicted, 3 targeted
    assert results["micro"]["precision"] == pytest.approx(0.5)
    assert results["micro"]["recall"] == pytest.approx(1 / 3)
    for name in ("micro_results.json", "macro_results.json", "macro_per_relation.json"):
        assert os.path.exists(os.path.join(out_dir, name)), name
    saved = json.load(open(os.path.join(out_dir, "micro_results.json")))
    assert saved["precision"] == pytest.approx(0.5)
    printed = capsys.readouterr().out
    assert "micro-f1," in printed and "macro-f1," in printed


def test_cli_all_four_evaluators(spark, tmp_path, run_files, capsys):
    """Micro + Macro + Bucket (train-split rescan) + ZS from one CLI run,
    mirroring the reference's full evaluator roster
    (genie/evaluate_from_file.py:90-174)."""
    out_path, _ = run_files
    lin = " <sub> {} <rel> {} <obj> {} <et>"
    # train split: r1 occurs 4x -> bucket floor(log2(4)) = 2; r2 once ->
    # bucket 0 (the reference buckets by train occurrence count)
    train_rows = [
        {"id": f"t{i}", "target": lin.format("X", "r1", "Y").replace("X", f"X{i}")}
        for i in range(4)
    ] + [{"id": "t9", "target": lin.format("P", "r2", "Q")}]
    train = tmp_path / "train.jsonl"
    train.write_text("\n".join(json.dumps(r) for r in train_rows))
    zs = tmp_path / "zs_groups.json"
    zs.write_text(json.dumps({"dropped": ["r2"], "ignored": ["r9"]}))

    out_dir = str(tmp_path / "eval_full")
    results = evaluate_from_file.main(
        ["--input", out_path, "--output-dir", out_dir,
         "--train-split", str(train), "--zs-relations", str(zs)]
    )

    # bucket 2 holds r1 only: P = 1/1, R = 1/2 over the val rows
    b = results["bucket"]
    assert b["precision"]["2"] == pytest.approx(1.0)
    assert b["recall"]["2"] == pytest.approx(0.5)
    assert b["precision"]["0"] == pytest.approx(0.0)  # r2: 0 of 1 correct
    assert b["val_relations_per_bucket"] == {"2": 1, "0": 1}
    assert b["val_triples_per_bucket"] == {"2": 2, "0": 1}

    # zs: r2 is 'dropped' (0 correct); r1 falls back to 'seen'
    z = results["zs"]
    assert z["dropped"]["precision"] == pytest.approx(0.0)
    assert z["dropped"]["n_target"] == 1
    assert z["seen"]["precision"] == pytest.approx(1.0)
    assert z["seen"]["recall"] == pytest.approx(0.5)
    assert "ignored" not in z  # no val rows under that group

    for name in ("micro_results.json", "macro_results.json",
                 "bucket_results.json", "zs_results.json"):
        assert os.path.exists(os.path.join(out_dir, name)), name
    saved = json.load(open(os.path.join(out_dir, "bucket_results.json")))
    assert saved["val_triples_per_bucket"] == {"0": 1, "2": 2}
    printed = capsys.readouterr().out
    assert "bucket-b2-f1," in printed and "zs-dropped-f1," in printed

    # the plot sink renders the reference's per-metric bar+line figures
    # (SVG, genie_spark/plots.py) next to bucket_results.json by default
    import xml.etree.ElementTree as ET

    assert sorted(results["bucket_plots"]) == ["f1", "precision", "recall"]
    for metric in ("precision", "recall", "f1"):
        for kind in ("bar", "line"):
            p = os.path.join(out_dir, f"bucket_{metric}_{kind}.svg")
            assert os.path.exists(p), p
            root = ET.parse(p).getroot()
            assert root.tag.endswith("svg")


def test_cli_relation_restriction_and_bootstrap(spark, tmp_path, run_files):
    out_path, rels_path = run_files
    out_dir = str(tmp_path / "eval_r1")
    results = evaluate_from_file.main(
        ["--input", out_path, "--output-dir", out_dir,
         "--relations", rels_path, "--bootstrap", "5"]
    )
    # restricted to r1: pred keeps only sample-1's triple (1 correct of
    # 1 predicted); target keeps samples 1 and 2 -> recall 0.5
    mean, std = results["micro"]["precision"]
    assert 0.0 <= mean <= 1.0 and std >= 0.0
    assert isinstance(results["micro"]["f1"], tuple)
    assert set(results["macro"]) == {"precision", "recall", "f1"}


def test_cli_per_relation_table_leaves_out_pred_only_relations(spark, tmp_path):
    """macro_per_relation.json holds the relations macro averages over:
    those with a target triple. A relation only ever predicted is left
    out, though it still counts in micro precision."""
    lin = " <sub> {} <rel> {} <obj> {} <et>"
    rows = [
        {"id": "1", "input": "a",
         "guess": lin.format("A", "r1", "B") + lin.format("X", "halluc", "Y"),
         "target": lin.format("A", "r1", "B")},
        {"id": "2", "input": "b", "guess": lin.format("C", "r2", "D"),
         "target": lin.format("C", "r2", "D") + lin.format("E", "r2", "F")},
    ]
    inp = tmp_path / "testing_output.json"
    inp.write_text("\n".join(json.dumps(r) for r in rows))
    out_dir = str(tmp_path / "eval_pred_only")
    results = evaluate_from_file.main(["--input", str(inp), "--output-dir", out_dir])

    # micro: 2 correct of 3 predicted ('halluc' included), 3 targeted
    assert results["micro"]["precision"] == pytest.approx(2 / 3)
    assert results["micro"]["recall"] == pytest.approx(2 / 3)
    table = json.load(open(os.path.join(out_dir, "macro_per_relation.json")))
    assert {r["rel"]: (r["n_correct"], r["n_pred"], r["n_target"]) for r in table} == {
        "r1": (1, 1, 1),
        "r2": (1, 1, 2),
    }
    # macro averages exactly those rows: (1 + 0.5) / 2
    assert results["macro"]["recall"] == pytest.approx(0.75)
    assert results["macro"]["precision"] == pytest.approx(1.0)
