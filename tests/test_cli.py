"""run_pipeline CLI: JSON config layering (CLI > config > defaults)."""

import json

import pytest

import run_pipeline


def test_config_file_layering(tmp_path):
    cfg = tmp_path / "run.json"
    cfg.write_text(json.dumps({
        "input": "/data/pages",
        "output": "/data/out",
        "num_beams": 4,
        "lang": "de",
        "as_documents": True,
    }))
    # config supplies required values and defaults
    args = run_pipeline.parse_args(["--config", str(cfg)])
    assert args.input == "/data/pages" and args.output == "/data/out"
    assert args.num_beams == 4 and args.lang == "de" and args.as_documents

    # CLI overrides config
    args = run_pipeline.parse_args(
        ["--config", str(cfg), "--num-beams", "2", "--output", "/other"]
    )
    assert args.num_beams == 2 and args.output == "/other"
    assert args.input == "/data/pages"  # still from config


def test_config_rejects_unknown_keys(tmp_path):
    cfg = tmp_path / "bad.json"
    cfg.write_text(json.dumps({"input": "x", "output": "y", "typo_key": 1}))
    with pytest.raises(SystemExit):
        run_pipeline.parse_args(["--config", str(cfg)])


def test_missing_required_still_errors():
    with pytest.raises(SystemExit):
        run_pipeline.parse_args(["--input", "only-input"])


@pytest.mark.parametrize("half", [
    ["--ent-catalog", "/cat/ents"], ["--rel-catalog", "/cat/rels"],
    ["--ent-trie", "/tries/ent"], ["--rel-trie", "/tries/rel"],
])
def test_half_a_catalog_or_trie_pair_errors(half, capsys):
    """A catalog or trie given without its partner must not be ignored
    silently (the catalogs would be derived from the corpus instead)."""
    with pytest.raises(SystemExit):
        run_pipeline.parse_args(["--input", "i", "--output", "o", *half])
    assert "are given together" in capsys.readouterr().err


def test_full_catalog_and_trie_pairs_parse():
    args = run_pipeline.parse_args([
        "--input", "i", "--output", "o",
        "--ent-catalog", "/cat/ents", "--rel-catalog", "/cat/rels",
        "--ent-trie", "/tries/ent", "--rel-trie", "/tries/rel",
    ])
    assert (args.ent_catalog, args.rel_catalog) == ("/cat/ents", "/cat/rels")
    assert (args.ent_trie, args.rel_trie) == ("/tries/ent", "/tries/rel")


def test_stack_factory_for_args():
    """--hf-checkpoint/--hf-device bind into an hf_stack_factory partial;
    without them the default stack ships."""
    from genie_spark.pipeline import default_stack_factory, hf_stack_factory

    base = ["--input", "i", "--output", "o"]
    f = run_pipeline.stack_factory_for(run_pipeline.parse_args(
        [*base, "--hf-checkpoint", "ckpt", "--hf-device", "cpu"]))
    assert (f.func, f.args, f.keywords) == (
        hf_stack_factory, (), {"checkpoint": "ckpt", "device": "cpu"})
    f = run_pipeline.stack_factory_for(run_pipeline.parse_args(base))
    assert f is default_stack_factory
