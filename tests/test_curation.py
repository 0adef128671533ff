"""Curation cascade (datapipe/curation.py) + run_pipeline CLI wiring."""

import json
import os

import pytest

from genie_spark.datapipe.curation import curate_pages, dedup_pages_by_url


@pytest.fixture(scope="module")
def pages(spark):
    rows = [
        # (url, warc_ts, text) — p1 fetched twice (messy refetch is newer)
        ("https://h/p1", 2, "the data is good and it has many plain words "
                            "for the gate to like in a normal document here"),
        ("HTTPS://H/p1/?utm_x=1", 5, "the data is good and it has many plain "
                                     "words for the gate to like in a normal "
                                     "document here refetched"),
        ("https://h/p2", 1, "spam spam spam spam spam spam"),  # fails gate
        ("https://h/p3", 1, "the quick brown fox jumps over a lazy dog and "
                            "then the fox naps for a while in the warm sun"),
    ]
    return spark.createDataFrame(rows, ["url", "warc_ts", "text"]).cache()


def test_dedup_pages_by_url_latest(spark, pages):
    out = dedup_pages_by_url(pages, ts_col="warc_ts")
    got = {r["url"]: r["warc_ts"] for r in out.collect()}
    # p1: the ts=5 refetch wins; p2/p3 untouched
    assert got == {"HTTPS://H/p1/?utm_x=1": 5, "https://h/p2": 1,
                   "https://h/p3": 1}


def test_curate_pages_cascade(spark, pages):
    out = curate_pages(
        pages, url_dedup=True, ts_col="warc_ts", gate=True, dedup_lines=True
    )
    rows = {r["url"]: r["text"] for r in out.collect()}
    # p2 fails the gate; p1 survives as its newest fetch; p3 survives
    assert set(rows) == {"HTTPS://H/p1/?utm_x=1", "https://h/p3"}
    # line dedup kept every first-occurrence line (no cross-doc repeats
    # at 8-word granularity here), so texts are intact
    assert rows["https://h/p3"].startswith("the quick brown fox")


def test_curate_pages_decontaminate_and_redact(spark, pages):
    eval_docs = spark.createDataFrame(
        [("e1", "quick brown fox jumps over a lazy dog")], ["url", "text"]
    )
    contact = spark.createDataFrame(
        [("https://h/p9", 9, "write a@b.io or see https://x.y/z for more "
                             "of the same words in this line here now")],
        ["url", "warc_ts", "text"],
    )
    out = curate_pages(
        pages.unionAll(contact), eval_docs=eval_docs, redact=True
    )
    rows = {r["url"]: r["text"] for r in out.collect()}
    assert "https://h/p3" not in rows  # shares the eval 8-gram
    assert "<EMAIL>" in rows["https://h/p9"]
    assert "<URL>" in rows["https://h/p9"]
    assert "a@b.io" not in rows["https://h/p9"]


def test_run_pipeline_e2e_with_curation(spark, tmp_path):
    """Full CLI run over sf0.001 docs with the cascade enabled: the
    pipeline must complete, write a graph, and report the curation
    block. Runs in-process (run_pipeline.main); getOrCreate reuses the
    test session, so its stop() is neutered for the duration."""
    import sys
    from unittest import mock

    from pyspark.sql import SparkSession

    import run_pipeline

    out_dir = str(tmp_path / "out")
    argv = [
        "run_pipeline.py",
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", out_dir,
        "--cpus", "0",
        "--as-documents",
        "--n-chunks", "4",
        "--dedup-url", "--quality-gate", "--line-dedup",
    ]
    printed = []
    with mock.patch.object(sys, "argv", argv), \
            mock.patch.object(SparkSession, "stop", lambda self: None), \
            mock.patch("builtins.print", lambda *a, **k: printed.append(a)):
        run_pipeline.main()
    summary = json.loads(printed[-1][0])
    assert summary["graph_triples"] > 0
    assert summary["curation"] == {
        "dedup_url": True, "decontaminate": False, "quality_gate": True,
        "neardup_cc": False, "redact_contacts": False, "line_dedup": True,
        "strip_boilerplate": False,
    }
    assert os.path.exists(os.path.join(out_dir, "graph"))


def test_curate_pages_neardup_cc_collapses_chains(spark):
    base = ("the data is good and it has many plain words for the gate "
            "to like in a normal document that keeps going on and on")
    rows = [
        ("https://h/a", base + " alpha"),
        ("https://h/b", base + " bravo"),   # near-dup of a and c
        ("https://h/c", base + " carol"),
        ("https://h/z", "a completely different page about the quick brown "
                        "fox that jumps over the lazy dog in the warm sun "
                        "for a long while today and naps"),
    ]
    pages = spark.createDataFrame(rows, ["url", "text"])
    out = curate_pages(pages, gate=True, neardup_cc=True)
    kept = sorted(r["url"] for r in out.collect())
    # the a~b~c chain collapses to its min url; z survives as a singleton
    assert kept == ["https://h/a", "https://h/z"]


def test_curate_pages_strip_boilerplate(spark):
    """Boilerplate stage: 8-word chunks appearing in >= min_df distinct
    pages drop from ALL of them; unique body text survives; a
    fully-boilerplate page drops entirely."""
    header = "cookie notice please accept our terms to continue"  # 8 words
    rows = [
        (f"https://h/b{i}", 1, header + f" unique body text number {i} "
                                        "with several distinct plain words")
        for i in range(3)
    ] + [("https://h/allboiler", 1, header)]
    pages = spark.createDataFrame(rows, ["url", "warc_ts", "text"])
    out = curate_pages(pages, strip_boilerplate=True, boilerplate_min_df=3)
    got = {r["url"]: r["text"] for r in out.collect()}
    assert "https://h/allboiler" not in got          # nothing left
    assert set(got) == {f"https://h/b{i}" for i in range(3)}
    for i in range(3):
        t = got[f"https://h/b{i}"]
        assert "cookie notice" not in t and f"number {i}" in t
