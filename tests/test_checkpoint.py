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


# --- fault injection: a kill at each step of a group's commit ----------------

class _Killed(Exception):
    """Stands in for the process dying at the injection point."""


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.select(sorted(df.columns)).collect())


def _lineage_chunks(out):
    """Every chunk named by a committed lineage record, repeats kept."""
    import glob
    import os

    chunks = []
    for f in glob.glob(os.path.join(out, LINEAGE_DIR, "chunk_*.json")):
        with open(f) as fh:
            chunks += [json.loads(line)["chunk"] for line in fh if line.strip()]
    return sorted(chunks)


@pytest.fixture()
def built_rows(spark, process):
    """The rows of an uninterrupted build, computed without checkpointing."""
    pages = synth.pages_df(spark, N_PAGES)
    return _rows(process(with_chunk(pages, n_chunks=N_CHUNKS)))


def _run_killed_at_record(spark, process, out, monkeypatch, n):
    """Run two groups of three chunks; the ``n``-th lineage record of the
    run (1-based) raises instead of landing, like a kill there."""
    from genie_spark import checkpoint

    append = checkpoint._append_lineage
    calls = []

    def dying(out_path, record):
        calls.append(record["chunk"])
        if len(calls) == n:
            raise _Killed
        append(out_path, record)

    monkeypatch.setattr(checkpoint, "_append_lineage", dying)
    pages = synth.pages_df(spark, N_PAGES).cache()
    with pytest.raises(_Killed):
        run_checkpointed(spark, pages, process, out, n_chunks=N_CHUNKS, chunks_per_job=3)
    monkeypatch.undo()
    return pages


def _resume_is_exact(spark, process, out, pages, built_rows, want_done):
    import os

    done = run_checkpointed(spark, pages, process, out, n_chunks=N_CHUNKS, chunks_per_job=3)
    assert sorted(done) == want_done
    assert _lineage_chunks(out) == list(range(N_CHUNKS))  # each chunk once
    assert _rows(spark.read.parquet(os.path.join(out, "data"))) == built_rows


def test_kill_after_append_before_first_record(spark, process, tmp_path, monkeypatch, built_rows):
    """Killed after the second group's append returned, before any of its
    lineage records: its data is an orphan and is rolled back."""
    out = str(tmp_path / "graph_out")
    pages = _run_killed_at_record(spark, process, out, monkeypatch, 4)
    assert completed_chunks(spark, out) == [0, 1, 2]
    _resume_is_exact(spark, process, out, pages, built_rows, [3, 4, 5])


def test_kill_between_records_of_one_group(spark, process, tmp_path, monkeypatch, built_rows):
    """Killed between the second group's first and second lineage
    records: chunk 3 is committed, chunks 4 and 5 are orphans."""
    out = str(tmp_path / "graph_out")
    pages = _run_killed_at_record(spark, process, out, monkeypatch, 5)
    assert completed_chunks(spark, out) == [0, 1, 2, 3]
    _resume_is_exact(spark, process, out, pages, built_rows, [4, 5])


def test_kill_mid_append(spark, process, tmp_path, monkeypatch, built_rows):
    """Killed inside the second group's append, during the job commit:
    chunk 3's output already sits in its chunk directory, chunks 4 and 5
    are still in the file committer's ``_temporary`` staging (committed
    task outputs the job commit had not moved yet), and a task attempt
    left a torn file. The disk state is built from a real append, moved
    into the committer's layout."""
    import os
    import shutil

    out = str(tmp_path / "graph_out")
    pages = _run_killed_at_record(spark, process, out, monkeypatch, 4)
    data = os.path.join(out, "data")
    staging = os.path.join(data, "_temporary", "0")
    for i, c in enumerate((4, 5)):
        task = os.path.join(staging, f"task_202601010000000000_0001_m_00000{i}")
        os.makedirs(task)
        shutil.move(os.path.join(data, f"chunk={c}"), os.path.join(task, f"chunk={c}"))
    torn = os.path.join(
        staging, "_temporary", "attempt_202601010000000000_0001_m_000002_0", "chunk=5"
    )
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00002-torn.c000.snappy.parquet"), "wb") as f:
        f.write(b"PAR1\x00\x00")
    assert completed_chunks(spark, out) == [0, 1, 2]
    _resume_is_exact(spark, process, out, pages, built_rows, [3, 4, 5])
    assert not os.path.exists(os.path.join(data, "_temporary"))


# --- the commit group's shape: jobs and files ---------------------------------

def test_commit_group_jobs_and_files(spark, tmp_path):
    """One commit group of the extraction pipeline runs three jobs (split,
    decode, write: no count job, no read-back) and writes at most one
    file per chunk at this size (rebalanced by chunk before the
    partitioned append)."""
    import glob
    import os

    ents = synth.unique_entity_names(synth.make_entities())
    rels = sorted(synth.RELATIONS)

    def process(pages):
        return with_chunk(extract_pipeline(spark, pages, ents, rels), n_chunks=N_CHUNKS)

    out = str(tmp_path / "graph_out")
    pages = synth.pages_df(spark, N_PAGES).cache()
    pages.count()
    sc = spark.sparkContext
    sc.setJobGroup("commit-group", "one run_checkpointed commit group")
    try:
        run_checkpointed(spark, pages, process, out, n_chunks=N_CHUNKS, chunks_per_job=N_CHUNKS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("commit-group")
    assert len(jobs) <= 3, f"a commit group ran {len(jobs)} jobs"
    written = spark.read.parquet(os.path.join(out, "data"))
    chunks = [r["chunk"] for r in written.select("chunk").distinct().collect()]
    assert len(chunks) > 1
    for c in chunks:
        files = glob.glob(os.path.join(out, "data", f"chunk={c}", "*.parquet"))
        assert len(files) == 1, f"chunk {c} was written as {len(files)} files"
    assert {r["chunk"] for r in lineage_df(spark, out).collect()} == set(range(N_CHUNKS))


def test_process_must_read_its_input(spark, tmp_path):
    """A ``process`` whose output does not read the pages it is given
    leaves the per-chunk document observation unexecuted; the group
    fails instead of blocking on it, and nothing is committed."""
    pages = synth.pages_df(spark, N_PAGES)
    detached = with_chunk(pages, n_chunks=N_CHUNKS).select(
        "url", "chunk", F.array().cast("array<string>").alias("pred_triples")
    )
    out = str(tmp_path / "graph_out")
    with pytest.raises(ValueError, match="must read its input"):
        run_checkpointed(
            spark, pages, lambda _subset: detached, out,
            n_chunks=N_CHUNKS, chunks_per_job=N_CHUNKS,
        )
    assert completed_chunks(spark, out) == []
