"""Resumable per-partition checkpointing with lineage + metrics.

The north_rule requires the 10^12-document run to be resumable from
checkpoint with per-partition lineage and throughput/coverage metrics. The
reference has nothing comparable (its per-rank JSONL append,
genie/models/genie_base_pl.py:275-297, is not idempotent). Design:

* Work is split into deterministic **chunks** by a stable hash of the
  document key: ``chunk = pmod(xxhash64(url), n_chunks)``. Chunk membership
  depends only on the data — never on cluster size or input split — so a
  resume at different parallelism processes exactly the complete remainder.
* Each chunk's output lands under ``out/chunk=<k>/`` in one atomic write;
  a ``_lineage`` table records (chunk, n_docs, n_rows, n_triples,
  wall_s, docs_per_s, finished_ts) one row per completed chunk. The
  counts are the chunk's own; ``wall_s`` and ``docs_per_s`` are those of
  the commit group the chunk was processed in.
* Resume = anti-join the chunk list against ``_lineage`` — already-done
  chunks are never rescanned (partition pruning on the chunk column for
  readers). Output is always Parquet directories; the sink does not go
  through the Iceberg layer.

At 100 TB with n_chunks ≈ 10k, each chunk is ~10 GB — large enough to
amortize job overhead, small enough that a preemption loses minutes.

Commit protocol of one chunk group (:func:`run_checkpointed`), three
Spark jobs at the extraction pipeline's shape — split, decode, write —
and nothing read back:

1. ``subset`` (the group's pages) carries an :class:`Observation` of
   ``count_if(chunk = c)`` for each chunk ``c`` of the group: the
   lineage ``n_docs``. It sits wherever ``process`` first reads its
   input; in the extraction pipeline that is the scan → repartition
   shuffle-map stage. A shuffle-map stage that is re-executed after a fetch failure
   re-runs its tasks, and the observation can then count their rows
   twice — ``n_docs`` is bookkeeping, never an input to the data.
2. ``process(subset)`` is rebalanced by ``chunk``
   (``.hint("rebalance", "chunk")``) before the ``partitionBy("chunk")``
   append. Without it every write task holds rows of most chunks and
   writes one file per chunk it holds: up to tasks × chunks small files
   (121 files of ~3 rows each for 8 tasks × 16 chunks at the
   benchmark's size). Rebalanced, each chunk hash-lands in one shuffle
   partition, and adaptive execution splits a partition only beyond the
   advisory size: one file per chunk at small sizes, and ~64 MB files —
   not one small file per task per chunk — for a ~10 GB chunk at 100 TB.
3. The rebalanced frame carries a second :class:`Observation` —
   per-chunk ``count_if`` and ``sum(size(pred_triples))``, the lineage
   ``n_rows`` and ``n_triples`` — so it runs in the write's own result
   stage and counts exactly the rows the append commits.
4. Only after the append returns is each chunk's lineage record written
   (the commit point). ``process`` must read its input: an observation
   no action executes would leave ``Observation.get`` blocking forever,
   so the group fails with ``ValueError`` instead (see
   :func:`_observed_counts`).
"""

from __future__ import annotations

import json
import os
import re
import time
from typing import Callable, Dict, List, Optional

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_DIR = "_lineage"
_RECORD = re.compile(r"chunk_(\d+)\.json")


def with_chunk(df: DataFrame, key: str = "url", n_chunks: int = 16) -> DataFrame:
    return df.withColumn("chunk", F.pmod(F.xxhash64(F.col(key)), F.lit(n_chunks)))


def _lineage_files(out_path: str) -> Dict[int, str]:
    """chunk -> committed record path. Only ``chunk_<k>.json`` names
    count: a ``.tmp`` left by a kill before the ``os.replace`` is not a
    commit, whatever it holds."""
    path = os.path.join(out_path, LINEAGE_DIR)
    if not os.path.isdir(path):
        return {}
    found = {}
    for name in os.listdir(path):
        m = _RECORD.fullmatch(name)
        if m:
            found[int(m.group(1))] = os.path.join(path, name)
    return found


def completed_chunks(spark: SparkSession, out_path: str) -> List[int]:
    return sorted(_lineage_files(out_path))


def lineage_df(spark: SparkSession, out_path: str) -> Optional[DataFrame]:
    files = _lineage_files(out_path)
    if not files:
        return None
    return spark.read.json(list(files.values()))


def _append_lineage(out_path: str, record: dict) -> None:
    path = os.path.join(out_path, LINEAGE_DIR)
    os.makedirs(path, exist_ok=True)
    fname = os.path.join(path, f"chunk_{record['chunk']}.json")
    tmp = fname + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(record) + "\n")
    os.replace(tmp, fname)  # atomic: a chunk is done iff its record exists


def _clean_uncommitted(out_path: str, todo_chunks) -> None:
    """Drop data for chunks with NO lineage record — a crash between the
    data append and the lineage write leaves orphaned partition files that
    a naive resume would duplicate (observed: kill -TERM mid-run left
    chunk=4,5 data without lineage; re-run re-emitted them → 254 rows for
    a 193-row corpus). The lineage record is the commit point; anything
    outside it is rolled back here by deleting the chunk's Parquet
    directory.

    A kill during the append itself also leaves the file committer's
    ``_temporary`` staging directory, holding the task outputs that were
    not yet moved into their chunk directories. The next append's job
    commit would merge those into the output as well, duplicating the
    rows the resume writes again (``test_kill_mid_append``), so the
    staging directory is rolled back too. Resume assumes it is the only
    writer of ``out_path``."""
    import shutil

    data = os.path.join(out_path, "data")
    for name in [f"chunk={c}" for c in todo_chunks] + ["_temporary"]:
        path = os.path.join(data, name)
        if os.path.exists(path):
            shutil.rmtree(path)


def _per_chunk(group: List[int], agg: str, name: str) -> Column:
    """One observed metric ``name``: the array of ``agg`` over each chunk
    of ``group``, in order, parsed from one SQL string — a Column built
    per chunk costs about ten py4j round trips each (0.5 s per 16-chunk
    group on a 4-core host)."""
    return F.expr(f"array({', '.join(agg.format(c) for c in group)}) AS {name}")


def _observed_counts(out: DataFrame, docs: Observation, written: Observation) -> dict:
    """The group's two observations, read after ``out`` was appended.

    An observation completes on the listener thread once the query-end
    event of the action that executed it is delivered, so reading them
    after the append needs one of two guarantees:

    * ``docs`` is in ``out``'s plan (``process`` reads its input inside
      the write): the write's query-end event completes it, with or
      without rows, so ``docs.get`` returns.
    * it is not (``process`` materialized its input in an earlier action
      of its own, e.g. an eager checkpoint): query-end events are
      delivered in order on one listener queue, so once ``written.get``
      returns, every earlier action's observations are complete. If
      ``docs`` is still open, no action read the input, and
      ``docs.get`` would block forever.

    Checking ``docs`` without the plan test would race: within one
    query-end event the listener completes ``written`` first."""
    counts = dict(written.get)
    readable = docs._jo.future().isCompleted() or (
        docs._jo.name() in out._jdf.queryExecution().analyzed().toString()
    )
    counts.update(docs.get if readable else {})
    if "docs" not in counts:
        raise ValueError(
            "run_checkpointed: process(pages) must read its input; its"
            " per-chunk document counts were never observed"
        )
    return counts


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    process: Callable[[DataFrame], DataFrame],
    out_path: str,
    key: str = "url",
    n_chunks: int = 16,
    chunks_per_job: int = 4,
) -> List[int]:
    """Process ``pages`` chunk-group by chunk-group, atomically committing
    output + lineage per group; safe to kill and re-invoke. Returns the
    list of chunks processed THIS call (already-complete ones are skipped
    via the lineage anti-join).

    ``process`` maps a pages-DataFrame to an output DataFrame that retains
    the ``chunk`` column (e.g. the extraction pipeline). Each group is
    one append, counted by observations on its own jobs (module
    docstring, "Commit protocol").
    """
    chunked = with_chunk(pages, key=key, n_chunks=n_chunks)
    done = set(completed_chunks(spark, out_path))
    todo = [c for c in range(n_chunks) if c not in done]
    _clean_uncommitted(out_path, todo)
    processed: List[int] = []
    for i in range(0, len(todo), chunks_per_job):
        group = todo[i : i + chunks_per_job]
        t0 = time.time()
        docs, written = Observation(), Observation()
        subset = chunked.filter(F.col("chunk").isin(group)).observe(
            docs, _per_chunk(group, "count_if(chunk = {})", "docs")
        )
        out = (
            process(subset)
            .hint("rebalance", "chunk")
            .observe(
                written,
                _per_chunk(group, "count_if(chunk = {})", "rows"),
                _per_chunk(
                    group,
                    "sum(CASE WHEN chunk = {} THEN size(pred_triples) END)",
                    "triples",
                ),
            )
        )
        out.write.mode("append").partitionBy("chunk").parquet(
            os.path.join(out_path, "data")
        )
        wall = time.time() - t0
        counts = _observed_counts(out, docs, written)
        n_docs = sum(counts["docs"])
        # every chunk in the group gets a record — an empty chunk (no rows
        # hashed into it) is COMPLETE, not pending, or resume would rescan
        # it on every invocation
        for k, c in enumerate(group):
            _append_lineage(
                out_path,
                {
                    "chunk": c,
                    "n_docs": counts["docs"][k],
                    "n_rows": counts["rows"][k],
                    "n_triples": counts["triples"][k] or 0,
                    "wall_s": round(wall, 3),
                    "docs_per_s": round(n_docs / wall, 3) if wall > 0 else None,
                    "finished_ts": time.time(),
                },
            )
            processed.append(c)
    return processed
