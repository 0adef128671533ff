"""Continuous-crawl mode: Structured Streaming over the same operators.

The reference is batch-only (SURVEY §2.9) and the north_rule asks for
resumable batch, which checkpoint.py provides. This module is the
incremental-ingest counterpart for a crawl that keeps appending page files:
``readStream`` on the input directory → the SAME GenieExtractor transform →
``foreachBatch`` into the graph writer. Streaming reuses every batch
operator unchanged — mapInPandas, broadcast tries, canonicalization joins —
because none of them are stateful across rows.

Exactly-once: the streaming checkpoint (source offsets) plus the idempotent
per-batch parquet append keyed by batch_id gives effective
exactly-once for this sink (a replayed batch overwrites its own directory,
never double-appends) — the same idea as checkpoint.py's chunk lineage,
driven by Spark's offset log instead of a data-hash chunking.
"""

from __future__ import annotations

import os
import re
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import GenieExtractor
from .extract import sentences_df

PAGE_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def read_page_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Streaming scan of a directory of page parquet files. Schema must be
    explicit (streaming sources don't infer)."""
    reader = spark.readStream.schema(PAGE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    ent_names: List[str],
    rel_names: List[str],
    available_now: bool = True,
):
    """Start (and with ``available_now`` run to completion) the streaming
    extraction: one micro-batch per file group, each batch going through
    the identical generation + parse path as the batch pipeline, landing
    under ``output_dir/data/batch=<id>/`` with the streaming checkpoint in
    ``output_dir/_checkpoint`` (restart-safe: processed files are never
    re-read; an interrupted batch is replayed into the same directory).
    """
    extractor = GenieExtractor(spark, ent_names, rel_names, num_beams=2)
    pages = read_page_stream(spark, input_dir)
    pages = pages.filter(F.col("lang") == "en")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sents = sentences_df(batch_df, text_col="text").select(
            "url", "warc_ts", "sent_idx", "input"
        )
        out = extractor.transform(sents)
        # idempotent per-batch commit: replay of batch_id overwrites its own
        # directory rather than appending a duplicate
        out.write.mode("overwrite").parquet(
            os.path.join(output_dir, "data", f"batch={batch_id}")
        )

    writer = (
        pages.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(output_dir, "_checkpoint"))
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_page_rates(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    max_files_per_trigger: Optional[int] = 1,
    available_now: bool = True,
):
    """Watermarked windowed aggregation over the crawl stream: pages per
    (one-hour event-time window, lang), tolerating late arrivals up to
    one hour. Append mode emits a window only once the watermark
    passes its end — exactly-once finalized counts, safe to join
    downstream. One file per micro-batch by default so event time (and
    the watermark) advances deterministically during an availableNow
    drain."""
    pages = read_page_stream(
        spark, input_dir, max_files_per_trigger=max_files_per_trigger
    )
    rates = (
        pages.withWatermark("warc_ts", "1 hour")
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "lang")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "lang",
            "n_pages",
        )
    )
    writer = (
        rates.writeStream.format("parquet")
        .option("path", os.path.join(output_dir, "data"))
        .option("checkpointLocation", os.path.join(output_dir, "_checkpoint"))
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


DOC_STREAM_SCHEMA = "doc_id bigint, text string"

_TTL_UNITS = {
    "ms": 1, "millisecond": 1, "milliseconds": 1,
    "s": 1000, "second": 1000, "seconds": 1000,
    "minute": 60_000, "minutes": 60_000,
    "hour": 3_600_000, "hours": 3_600_000,
    "day": 86_400_000, "days": 86_400_000,
}


def _ttl_ms(ttl) -> int:
    """'30 days' / '2 seconds' / int milliseconds → milliseconds
    (pyspark's GroupState.setTimeoutDuration only takes ints)."""
    if isinstance(ttl, int):
        return ttl
    m = re.fullmatch(r"\s*(\d+(?:\.\d+)?)\s+([A-Za-z]+)\s*", str(ttl))
    if not m or m.group(2).lower() not in _TTL_UNITS:
        units = "|".join(sorted(set(_TTL_UNITS)))
        raise ValueError(
            f"bad state_ttl {ttl!r}: pass int milliseconds or "
            f"'<number> <unit>' with unit one of {units}"
        )
    return int(float(m.group(1)) * _TTL_UNITS[m.group(2).lower()])


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    available_now: bool = True,
    state_ttl: Optional[str] = None,
    trigger_interval: str = "500 milliseconds",
):
    """Custom stateful streaming operator: cross-batch EXACT dedup.

    A continuous crawl re-fetches the same pages; batch-mode
    ``exact_dedup`` only sees one batch. This keeps per-hash state with
    ``applyInPandasWithState`` (grouped by text hash — the same shuffle
    key as the batch groupBy, so state is co-located with its group):
    the FIRST document of each hash ever seen is emitted, every later
    duplicate (same batch or any later batch) is suppressed. State is one
    tiny (seen, keep_id) record per distinct hash, checkpointed with the
    stream — a restart resumes with the full seen-set intact.

    ``state_ttl`` is the explicit eviction story for an UNBOUNDED crawl:
    without it the seen-set grows with the number of distinct documents
    ever crawled. With a TTL (e.g. ``"30 days"``), each hash's state
    carries a processing-time timeout that is refreshed whenever the hash
    is seen again (sliding eviction: hot duplicates stay suppressed, cold
    entries age out), and an aged-out hash re-fetched later is treated as
    new — the standard bounded-memory tradeoff, stated rather than
    implicit. State size is observable via :func:`state_metrics` on the
    returned query.

    Returns the started query (awaited when ``available_now``). A TTL
    requires a running processing-time trigger: timeouts never fire
    during an availableNow drain (verified to hang in this Spark build),
    so ``state_ttl`` demands ``available_now=False`` — the caller owns
    stopping the returned continuous query."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if state_ttl and available_now:
        raise ValueError(
            "state_ttl needs a continuous processing-time trigger "
            "(ProcessingTimeTimeout does not fire under availableNow); "
            "pass available_now=False and stop the returned query"
        )

    docs = (
        spark.readStream.schema(DOC_STREAM_SCHEMA).parquet(input_dir)
        .withColumn("text_hash", F.md5("text"))
    )

    out_type = "text_hash string, keep_id bigint, text string"
    state_type = "seen int, keep_id bigint"
    ttl_ms = _ttl_ms(state_ttl) if state_ttl else None

    def first_seen(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()  # TTL eviction: forget this hash
            return
        if state.exists:
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)  # refresh on re-touch
            return  # hash already emitted in an earlier batch
        first = None
        for pdf in pdf_iter:
            if len(pdf):
                row = pdf.nsmallest(1, "doc_id").iloc[0]
                if first is None or int(row["doc_id"]) < first[1]:
                    first = (key[0], int(row["doc_id"]), row["text"])
        if first is not None:
            state.update((1, first[1]))
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)
            yield pd.DataFrame(
                [first], columns=["text_hash", "keep_id", "text"]
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl
        else GroupStateTimeout.NoTimeout
    )
    deduped = docs.groupBy("text_hash").applyInPandasWithState(
        first_seen, out_type, state_type, "append", timeout
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", os.path.join(output_dir, "data"))
        .option("checkpointLocation", os.path.join(output_dir, "_checkpoint"))
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime=trigger_interval).start()


def stream_dedup_minhash(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    available_now: bool = True,
):
    """Cross-batch NEAR-dup: streaming MinHash+LSH candidate pairs.

    The batch pipeline (datapipe.dedup.lsh_candidate_pairs) re-joins the
    whole corpus per run; a continuous crawl instead wants each arriving
    document checked against everything EVER crawled. Signatures and band
    keys are computed row-local with the same Column expressions as the
    batch path (minhash_signature_col and banded_keys — identical
    hashes, so streaming and batch candidates agree); state lives per
    (band, band_hash) bucket via ``applyInPandasWithState`` — the
    member-id list of that bucket.
    Each new document emits one (id_a, id_b) candidate row per existing
    member of any bucket it lands in; a pair colliding in several bands
    is emitted once per band, so readers take ``distinct()`` (same as the
    batch path's final distinct).

    Scale: state is ONLY ids (no text, no signatures) keyed by the same
    shuffle key as the batch join. Signatures use 3-shingles and 16
    hashes in 4 bands."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .datapipe.dedup import banded_keys, minhash_signature_col, shingles_col

    docs = spark.readStream.schema(DOC_STREAM_SCHEMA).parquet(input_dir)
    sig = minhash_signature_col(shingles_col(F.col("text")))
    banded = banded_keys(docs.select("doc_id", sig.alias("sig")))

    out_type = "id_a bigint, id_b bigint, band int"
    state_type = "members array<bigint>"

    def collide(key, pdf_iter, state):
        members = list(state.get[0]) if state.exists else []
        known = set(members)
        band = int(key[0])
        pairs = []
        arrivals = sorted(
            {int(i) for pdf in pdf_iter for i in pdf["doc_id"] if len(pdf)}
        )
        for nid in arrivals:
            if nid in known:
                continue  # exact re-fetch of a known member: nothing new
            pairs.extend(
                (min(nid, m), max(nid, m), band) for m in members
            )
            members.append(nid)
            known.add(nid)
        state.update((members,))
        if pairs:
            yield pd.DataFrame(pairs, columns=["id_a", "id_b", "band"])

    out = banded.groupBy("band", "bkey").applyInPandasWithState(
        collide,
        out_type,
        state_type,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", os.path.join(output_dir, "data"))
        .option("checkpointLocation", os.path.join(output_dir, "_checkpoint"))
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="500 milliseconds").start()


def state_metrics(query) -> dict:
    """State-store footprint of a stateful streaming query, summed over
    its state operators from the most recent progress event that carried
    any: rows held (the seen-set size for stream_dedup_exact), rows
    updated/removed in that trigger, and bytes in the state store. This
    is the observability half of the ``state_ttl`` eviction story — an
    operator with a TTL should show numRowsTotal plateau instead of
    growing with every distinct key ever seen."""
    progs = [p for p in (query.recentProgress or []) if p.get("stateOperators")]
    if not progs:
        return {}
    out = {
        "numRowsTotal": 0,
        "numRowsUpdated": 0,
        "numRowsRemoved": 0,
        "memoryUsedBytes": 0,
    }
    for op in progs[-1]["stateOperators"]:
        for k in out:
            out[k] += int(op.get(k, 0) or 0)
    return out


def _committed_batch_dirs(spark: SparkSession, data_dir: str) -> List[str]:
    """batch=<id> directories carrying their _SUCCESS marker, via the
    Hadoop FS API (works on local/HDFS/S3A alike)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(data_dir)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return []
    dirs = []
    for st in fs.listStatus(root):
        p = st.getPath()
        if (
            st.isDirectory()
            and p.getName().startswith("batch=")
            and fs.exists(jvm.org.apache.hadoop.fs.Path(p, "_SUCCESS"))
        ):
            dirs.append(p.toString())
    return sorted(dirs)


def read_stream_output(spark: SparkSession, output_dir: str) -> DataFrame:
    """Read only COMMITTED batches. mode('overwrite') per batch dir is
    delete-then-write, so a crash mid-overwrite leaves a torn batch=<id>
    directory (partial part-files, no _SUCCESS); filtering on the marker
    makes torn batches invisible until the restarted stream replays them —
    the same commit-point discipline as the batch path's chunk lineage
    (checkpoint._clean_uncommitted)."""
    data_dir = os.path.join(output_dir, "data")
    committed = _committed_batch_dirs(spark, data_dir)
    if not committed:
        raise FileNotFoundError(f"no committed batch dirs under {data_dir}")
    return spark.read.option("basePath", data_dir).parquet(*committed)


ASSERTION_STREAM_SCHEMA = "s string, r string, o string, ts timestamp"


def stream_fuse_latest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    available_now: bool = True,
):
    """Stateful streaming knowledge fusion: the continuous-crawl form of
    :func:`genie_spark.canonicalize.fuse_latest`. Each micro-batch of
    timestamped (s, r, o, ts) assertions updates per-(s, r) state —
    current winning object (max (ts, o)), total assertion count, and an
    exact conflicted flag — and emits the group's fused record whenever
    the group is touched. The parquet sink is therefore a fusion event
    log; the CURRENT graph is the latest emission per key (readers take
    max(n_assertions) per (s, r), or consume only the final batch).

    The conflicted flag is exact without keeping the unbounded distinct-
    object set in state: a second distinct object either co-occurs with
    another in one batch (detected locally) or differs from the stored
    winner (detected on comparison) — there is no third way to first
    observe it. State per key is a fixed-width (ts_ms, o, n, conflicted)
    record, grouped on the same (s, r) key the batch aggregation
    shuffles on, so fusion state is co-located with its group.

    Restart-safe: state lives in the streaming checkpoint. Parity with
    the batch operator is asserted in tests (final emission per key ==
    fuse_latest of all input)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    assertions = spark.readStream.schema(ASSERTION_STREAM_SCHEMA).parquet(
        input_dir
    )

    out_type = (
        "s string, r string, o_latest string, latest_ts_ms bigint, "
        "n_assertions bigint, conflicted bigint"
    )
    state_type = "ts_ms bigint, o string, n bigint, conflicted int"

    def fuse(key, pdf_iter, state):
        best_ts, best_o, n, seen = None, None, 0, set()
        for pdf in pdf_iter:
            for _, row in pdf.iterrows():
                ts_ms = int(row["ts"].value // 1_000_000)  # pandas ns -> ms
                o = row["o"]
                n += 1
                if len(seen) < 2:
                    seen.add(o)
                if best_ts is None or (ts_ms, o) > (best_ts, best_o):
                    best_ts, best_o = ts_ms, o
        if n == 0:
            return
        conflicted = 1 if len(seen) > 1 else 0
        if state.exists:
            ts0, o0, n0, conf0 = state.get
            conflicted = 1 if (conf0 or conflicted or best_o != o0 or
                               any(o != o0 for o in seen)) else 0
            if (ts0, o0) > (best_ts, best_o):
                best_ts, best_o = ts0, o0
            n += n0
        state.update((best_ts, best_o, n, conflicted))
        yield pd.DataFrame(
            [(key[0], key[1], best_o, best_ts, n, conflicted)],
            columns=["s", "r", "o_latest", "latest_ts_ms",
                     "n_assertions", "conflicted"],
        )

    fused = assertions.groupBy("s", "r").applyInPandasWithState(
        fuse, out_type, state_type, "append", GroupStateTimeout.NoTimeout
    )
    writer = (
        fused.writeStream.format("parquet")
        .option("path", os.path.join(output_dir, "data"))
        .option("checkpointLocation", os.path.join(output_dir, "_checkpoint"))
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="500 milliseconds").start()


def stream_distant_supervision(
    spark: SparkSession,
    input_dir: str,
    kb: "DataFrame",
    output_dir: str,
    available_now: bool = True,
):
    """Streaming distant-supervision alignment: the continuous-crawl
    form of :func:`genie_spark.datapipe.align.distant_supervision`.
    Each micro-batch of documents aligns against the (static, broadcast)
    KB and appends one row per (doc_id, s_name, r, o_name) where the
    document mentions both endpoints — the incremental training-example
    feed for a continuously-retrained extractor.

    ENTIRELY STATELESS, which is what makes it streamable: the batch
    operator's second mention join (object side) would be a
    stream-stream self-join Structured Streaming forbids; instead the
    per-document distinct token ARRAY rides along the subject explode
    and the object check is a row-local ``array_contains`` — the same
    trick as curation.decontaminated_stream. Per-batch cost is
    O(tokens x matching KB subjects); the alignment semantics are
    identical to the batch operator per document (asserted in tests),
    so the union of all batches equals the batch run over the union of
    inputs — alignment is per-document, no cross-document state."""
    docs = spark.readStream.schema(DOC_STREAM_SCHEMA).parquet(input_dir)
    toks = F.array_distinct(
        F.filter(
            F.split(F.lower(F.col("text")), " "), lambda t: t != F.lit("")
        )
    )
    exploded = docs.select(
        "doc_id", toks.alias("_toks")
    ).select("doc_id", "_toks", F.explode("_toks").alias("tok"))
    hits = (
        exploded.join(F.broadcast(kb), exploded.tok == kb.s_name)
        .filter(F.array_contains(F.col("_toks"), F.col("o_name")))
        .select("doc_id", "s_name", "r", "o_name")
    )
    writer = (
        hits.writeStream.format("parquet")
        .option("path", os.path.join(output_dir, "data"))
        .option("checkpointLocation", os.path.join(output_dir, "_checkpoint"))
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="500 milliseconds").start()


EVENT_STREAM_SCHEMA = "event_id bigint, ts timestamp, user_id bigint"


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    gap_minutes: int = 30,
):
    """Stateful streaming sessionization: the continuous form of
    :func:`genie_spark.datapipe.sampling.sessionize`. Per-user state is
    one fixed-width open-session record (session_idx, start_us, last_us,
    n); each micro-batch sorts its per-user events locally, extends the
    open session while gaps stay ≤ ``gap_minutes``, and EMITS a session
    row the moment a larger gap closes it — so the sink is the closed-
    session log, and the open tail lives only in state. A session that
    spans micro-batches stays ONE session (the state carries it across).

    Ordering contract: event files must arrive in per-user time order
    across batches (true for time-partitioned logs; the in-batch sort
    handles intra-batch disorder). Production late-data handling would
    add an event-time timeout + watermark; this build's
    availableNow/timeout interaction is documented in CLAUDE.md, so the
    TTL-free form is the supported one here.

    Session numbering, timestamps (integer epoch micros) and aggregates
    match the batch operator exactly: the emitted log equals batch
    sessionize minus each user's still-open final session (asserted in
    tests)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = int(gap_minutes) * 60 * 1_000_000
    events = spark.readStream.schema(EVENT_STREAM_SCHEMA).parquet(input_dir)
    out_type = (
        "user_id bigint, session_idx bigint, n_events bigint, "
        "start_us bigint, end_us bigint, duration_us bigint"
    )
    state_type = "session_idx bigint, start_us bigint, last_us bigint, n bigint"
    cols = ["user_id", "session_idx", "n_events", "start_us", "end_us",
            "duration_us"]

    def sess(key, pdf_iter, state):
        rows = []
        for pdf in pdf_iter:
            for _, row in pdf.iterrows():
                rows.append(
                    (int(row["ts"].value // 1_000), int(row["event_id"]))
                )
        if not rows:
            return
        rows.sort()
        if state.exists:
            idx, start, last, n = state.get
        else:
            idx, start, last, n = 0, None, None, 0
        closed = []
        for tus, _eid in rows:
            if start is None:
                idx, start, last, n = idx + 1, tus, tus, 1
            elif tus - last > gap_us:
                closed.append((key[0], idx, n, start, last, last - start))
                idx, start, last, n = idx + 1, tus, tus, 1
            else:
                last, n = max(last, tus), n + 1
        state.update((int(idx), int(start), int(last), int(n)))
        if closed:
            yield pd.DataFrame(closed, columns=cols)

    sessions = events.groupBy("user_id").applyInPandasWithState(
        sess, out_type, state_type, "append", GroupStateTimeout.NoTimeout
    )
    writer = (
        sessions.writeStream.format("parquet")
        .option("path", os.path.join(output_dir, "data"))
        .option("checkpointLocation", os.path.join(output_dir, "_checkpoint"))
        .outputMode("append")
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def stream_cms_sketch(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    depth: int = 4,
    width: int = 1024,
):
    """Live count-min sketch over the document stream: the running
    hot-token frequency table, continuously refreshed.

    The CMS is a pure streaming aggregation — the cell build
    (``datapipe.sketches.cms_sketch``) is groupBy+count, so Structured
    Streaming maintains the (j, b) cell counts as incremental state in
    ``complete`` mode, and because cell state is FIXED at depth*width
    rows it never grows with stream length or key cardinality (the
    whole point of sketching an unbounded crawl; contrast
    stream_dedup_exact's per-key state, which needs a TTL). Each
    micro-batch publishes the full refreshed sketch snapshot via
    foreachBatch overwrite — the serving pattern for a live "what's
    trending" table (probe it with ``cms_estimate``).

    Batch parity: a drained stream's final snapshot equals
    ``cms_sketch`` over the full corpus (asserted in
    tests/test_streaming.py) — cellwise sums are order- and
    batching-insensitive."""
    from .datapipe.sketches import cms_sketch

    toks = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
    )
    cells = cms_sketch(toks, "t", depth=depth, width=width)
    data_dir = os.path.join(output_dir, "data")

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(data_dir)

    writer = (
        cells.writeStream.outputMode("complete")
        .foreachBatch(publish)
        .option("checkpointLocation", os.path.join(output_dir, "_checkpoint"))
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
