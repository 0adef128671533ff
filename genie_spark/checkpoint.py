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
"""

from __future__ import annotations

import json
import os
import re
import time
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
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
    directory."""
    import shutil

    data = os.path.join(out_path, "data")
    for c in todo_chunks:
        part_dir = os.path.join(data, f"chunk={c}")
        if os.path.exists(part_dir):
            shutil.rmtree(part_dir)


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
    the ``chunk`` column (e.g. the extraction pipeline).
    """
    chunked = with_chunk(pages, key=key, n_chunks=n_chunks)
    done = set(completed_chunks(spark, out_path))
    todo = [c for c in range(n_chunks) if c not in done]
    _clean_uncommitted(out_path, todo)
    processed: List[int] = []
    for i in range(0, len(todo), chunks_per_job):
        group = todo[i : i + chunks_per_job]
        t0 = time.time()
        subset = chunked.filter(F.col("chunk").isin(group))
        docs_by_chunk = {
            int(row["chunk"]): row["count"]
            for row in subset.groupBy("chunk").count().collect()
        }
        n_docs = sum(docs_by_chunk.values())
        out = process(subset)
        out.write.mode("append").partitionBy("chunk").parquet(
            os.path.join(out_path, "data")
        )
        wall = time.time() - t0
        stats = (
            spark.read.parquet(os.path.join(out_path, "data"))
            .filter(F.col("chunk").isin(group))
            .groupBy("chunk")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.size("pred_triples")).alias("n_triples"),
            )
            .collect()
        )
        by_chunk = {int(row["chunk"]): row for row in stats}
        # every chunk in the group gets a record — an empty chunk (no rows
        # hashed into it) is COMPLETE, not pending, or resume would rescan
        # it on every invocation
        for c in group:
            row = by_chunk.get(c)
            _append_lineage(
                out_path,
                {
                    "chunk": c,
                    "n_docs": docs_by_chunk.get(c, 0),
                    "n_rows": int(row["n_rows"]) if row else 0,
                    "n_triples": int(row["n_triples"] or 0) if row else 0,
                    "wall_s": round(wall, 3),
                    "docs_per_s": round(n_docs / wall, 3) if wall > 0 else None,
                    "finished_ts": time.time(),
                },
            )
            processed.append(c)
    return processed
