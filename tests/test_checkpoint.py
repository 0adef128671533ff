"""Resumable checkpointing: kill-and-rerun must neither duplicate nor drop
chunks (SURVEY.md §5.2 resumability test)."""

import json

import pytest
from pyspark.sql import functions as F

from genie_spark import synth
from genie_spark.checkpoint import (
    LINEAGE_DIR,
    completed_chunks,
    lineage_df,
    run_checkpointed,
    with_chunk,
)
from genie_spark.pipeline import extract_pipeline

N_PAGES = 24
N_CHUNKS = 6


@pytest.fixture()
def process(spark):
    ents = synth.unique_entity_names(synth.make_entities())
    rels = sorted(synth.RELATIONS)

    def fn(pages):
        out = extract_pipeline(spark, pages, ents, rels)
        chunks = with_chunk(pages.select("url"), n_chunks=N_CHUNKS)
        return out.join(chunks, "url")

    return fn


def test_chunk_assignment_is_data_only(spark):
    pages = synth.pages_df(spark, N_PAGES)
    a = {r["url"]: r["chunk"] for r in with_chunk(pages.repartition(2), n_chunks=N_CHUNKS).collect()}
    b = {r["url"]: r["chunk"] for r in with_chunk(pages.repartition(9), n_chunks=N_CHUNKS).collect()}
    assert a == b


def test_resume_no_dup_no_loss(spark, process, tmp_path):
    out = str(tmp_path / "graph_out")
    pages = synth.pages_df(spark, N_PAGES).cache()

    # first invocation "dies" after one job group (2 chunk-groups of 2)
    done1 = run_checkpointed(
        spark, pages, process, out, n_chunks=N_CHUNKS, chunks_per_job=2
    )
    assert len(done1) == N_CHUNKS
    # simulate partial completion: wipe lineage for the last group and rerun
    import os, glob

    lineage_files = sorted(glob.glob(os.path.join(out, "_lineage", "*.json")))
    victims = lineage_files[-2:]
    victim_chunks = [int(os.path.basename(v).split("_")[1].split(".")[0]) for v in victims]
    for v in victims:
        os.remove(v)
    # also remove their data (the atomic-commit contract: lineage record is
    # written only after data lands; a crash between leaves orphan data that
    # the resume overwrites via append + chunk filter on read)
    for c in victim_chunks:
        import shutil

        shutil.rmtree(os.path.join(out, "data", f"chunk={c}"), ignore_errors=True)

    done2 = run_checkpointed(
        spark, pages, process, out, n_chunks=N_CHUNKS, chunks_per_job=2
    )
    assert sorted(done2) == sorted(victim_chunks)
    assert completed_chunks(spark, out) == list(range(N_CHUNKS))

    # final output: exactly one row per (url, sent_idx), nothing lost
    data = spark.read.parquet(os.path.join(out, "data"))
    got = data.groupBy("url", "sent_idx").count().filter(F.col("count") > 1).count()
    assert got == 0
    n_expected = (
        extract_pipeline(
            spark, pages,
            synth.unique_entity_names(synth.make_entities()),
            sorted(synth.RELATIONS),
        ).count()
    )
    assert data.count() == n_expected

    lin = lineage_df(spark, out)
    assert lin.count() == N_CHUNKS
    cols = set(lin.columns)
    assert {"chunk", "n_rows", "n_triples", "wall_s", "docs_per_s"} <= cols


def test_third_run_is_noop(spark, process, tmp_path):
    out = str(tmp_path / "graph_out2")
    pages = synth.pages_df(spark, N_PAGES).cache()
    run_checkpointed(spark, pages, process, out, n_chunks=N_CHUNKS, chunks_per_job=3)
    assert run_checkpointed(spark, pages, process, out, n_chunks=N_CHUNKS) == []


def _resume_over_orphan(spark, process, out, lineage):
    """Write chunk 0's data with no committed lineage record, leave
    ``lineage`` (file name -> text; None = no directory) in ``_lineage``,
    then resume: the orphan must be rolled back, not duplicated."""
    import os

    pages = synth.pages_df(spark, N_PAGES).cache()

    # simulate the crash: write one chunk's data WITHOUT its lineage record
    chunked = with_chunk(pages, n_chunks=N_CHUNKS)
    orphan = process(chunked.filter(F.col("chunk") == 0))
    orphan.write.mode("append").partitionBy("chunk").parquet(
        os.path.join(out, "data")
    )
    if lineage is not None:
        lin_dir = os.path.join(out, LINEAGE_DIR)
        os.makedirs(lin_dir)
        for name, text in lineage.items():
            with open(os.path.join(lin_dir, name), "w") as f:
                f.write(text)
    assert completed_chunks(spark, out) == []  # no commit record
    assert lineage_df(spark, out) is None

    run_checkpointed(
        spark, pages, process, out, n_chunks=N_CHUNKS, chunks_per_job=N_CHUNKS
    )
    got = spark.read.parquet(os.path.join(out, "data"))
    n = got.count()
    n_distinct = got.select("url", "sent_idx").distinct().count()
    assert n == n_distinct, f"orphaned chunk data duplicated: {n} vs {n_distinct}"


def test_orphaned_data_rolled_back_on_resume(spark, process, tmp_path):
    """A crash BETWEEN the data append and the lineage write leaves
    partition files with no commit record; resume must roll them back,
    not duplicate them (regression: observed 254 rows for a 193-row corpus
    after a SIGTERM mid-run)."""
    _resume_over_orphan(spark, process, str(tmp_path / "graph_out"), None)


_RECORD_0 = json.dumps({"chunk": 0, "n_docs": 4, "n_rows": 9, "n_triples": 3,
                        "wall_s": 1.0, "docs_per_s": 4.0, "finished_ts": 0.0})


@pytest.mark.parametrize(
    "lineage",
    [
        {},  # killed right after makedirs
        {"chunk_0.json.tmp": _RECORD_0[:20]},  # killed mid-write
        {"chunk_0.json.tmp": _RECORD_0 + "\n"},  # killed before os.replace
    ],
    ids=["empty", "torn_tmp", "complete_tmp"],
)
def test_torn_lineage_is_not_a_commit(spark, process, tmp_path, lineage):
    """The same crash with a partly written ``_lineage`` beside the orphan
    data: anything short of a renamed ``chunk_<k>.json`` is not a commit,
    so resume neither fails on it nor skips the chunk."""
    _resume_over_orphan(spark, process, str(tmp_path / "graph_out"), lineage)


def test_lineage_counts_are_per_chunk(spark, process, tmp_path):
    """Every lineage record's n_docs, n_rows and n_triples equal a recount
    of that chunk's input pages and written rows — not a group average
    (chunk sizes within a commit group differ)."""
    import os

    out = str(tmp_path / "graph_out")
    pages = synth.pages_df(spark, N_PAGES).cache()
    run_checkpointed(spark, pages, process, out, n_chunks=N_CHUNKS, chunks_per_job=3)

    docs = {
        r["chunk"]: r["count"]
        for r in with_chunk(pages, n_chunks=N_CHUNKS).groupBy("chunk").count().collect()
    }
    written = {
        r["chunk"]: (r["n_rows"], r["n_triples"])
        for r in spark.read.parquet(os.path.join(out, "data"))
        .groupBy("chunk")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.size("pred_triples")).alias("n_triples"),
        )
        .collect()
    }
    assert len(set(docs.values())) > 1, "chunk sizes must differ for this check"
    records = lineage_df(spark, out).collect()
    assert sorted(r["chunk"] for r in records) == list(range(N_CHUNKS))
    for r in records:
        c = r["chunk"]
        assert r["n_docs"] == docs.get(c, 0), c
        assert (r["n_rows"], r["n_triples"]) == written.get(c, (0, 0)), c
