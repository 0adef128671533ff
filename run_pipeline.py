#!/usr/bin/env python
"""spark-submit entry point for the full KG-construction pipeline.

Cluster launch (north_rule: spark-submit --py-files at two cluster sizes):

    cd /root/repo && zip -r /tmp/genie_spark.zip genie_spark
    spark-submit --master <cluster> --py-files /tmp/genie_spark.zip \
        run_pipeline.py --input <pages parquet/iceberg path> \
        --output /path/to/graph_out --n-chunks 10000

Sandbox launch (local mode, used by the scaling evidence run):

    python run_pipeline.py --input /root/testdata/sf0.1/documents.parquet \
        --output /tmp/graph_out --cpus 32 --as-documents

Stages (all resumable — re-invoking skips chunks recorded in the lineage
table): read pages(url, warc_ts, html, text, lang) → lang filter →
sentence split → constrained beam generation (mapInPandas, broadcast
tries) → per-chunk checkpointed parquet/Iceberg append with lineage +
throughput metrics → canonicalize (broadcast joins, skew-aware dedup) →
graph table partitioned by predicate.

The entity/relation catalogs come from --ent-catalog/--rel-catalog parquet
dirs (given together; columns: id, name, provenance) or, absent both, are
derived deterministically from the corpus vocabulary (sandbox mode — no
external data).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession


def build_session(args) -> SparkSession:
    b = SparkSession.builder.appName("genie-spark-pipeline")
    if args.cpus:  # sandbox/local; on a cluster, spark-submit sets the master
        b = b.master(f"local[{args.cpus}]").config(
            "spark.sql.shuffle.partitions", str(max(2 * args.cpus, 16))
        )
    return (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def load_pages(spark: SparkSession, args) -> DataFrame:
    df = (
        spark.read.table(args.input)
        if args.input_format == "table"
        else spark.read.parquet(args.input)
    )
    if args.as_documents:
        import __spark_entry__ as entry_mod

        df = entry_mod._docs_as_pages(df)
    return df


def load_catalogs(spark: SparkSession, args, pages: DataFrame):
    if args.ent_catalog:
        ents = [
            r["name"]
            for r in spark.read.parquet(args.ent_catalog).select("name").collect()
        ]
        rels = [
            r["name"]
            for r in spark.read.parquet(args.rel_catalog).select("name").collect()
        ]
        return ents, rels
    import __spark_entry__ as entry_mod

    return entry_mod._corpus_catalogs(pages)


def stack_factory_for(args):
    """The decode-stack factory GenieExtractor ships to the executors:
    the checkpoint's own stack with --hf-checkpoint, else the default."""
    from genie_spark.pipeline import default_stack_factory, hf_stack_factory

    if args.hf_checkpoint:
        return partial(hf_stack_factory, checkpoint=args.hf_checkpoint,
                       device=args.hf_device)
    return default_stack_factory


def parse_args(argv=None):
    """CLI with optional JSON config-file layering (the capability the
    reference gets from Hydra, genie/run.py:24-39 / evaluate.py:35-66 —
    deliberately a flat config file + CLI overrides instead of a plugin
    system, SURVEY.md §2.10): values resolve as CLI > --config file >
    argparse defaults."""
    pre = argparse.ArgumentParser(add_help=False)
    pre.add_argument("--config")
    cfg_ns, rest = pre.parse_known_args(argv)
    ap = argparse.ArgumentParser(parents=[pre])
    ap.add_argument("--input")
    ap.add_argument("--input-format", choices=["parquet", "table"], default="parquet")
    ap.add_argument("--output")
    ap.add_argument("--ent-catalog")
    ap.add_argument("--rel-catalog")
    ap.add_argument("--lang", default="en")
    ap.add_argument("--num-beams", type=int, default=2)
    ap.add_argument("--num-return-sequences", type=int, default=None,
                    help="beams to RETURN (search width stays --num-beams; "
                    "reference demo uses 10/2)")
    ap.add_argument("--length-penalty", type=float, default=0.0,
                    help="HF/reference beam normalization (reference runs use 1.0)")
    ap.add_argument("--bos-first", action="store_true",
                    help="force BOS as the first generated token (reference parity)")
    ap.add_argument("--ent-trie", help="preloaded trie artifact (save_trie_artifacts)")
    ap.add_argument("--rel-trie", help="preloaded trie artifact (save_trie_artifacts)")
    ap.add_argument("--hf-checkpoint",
                    help="HF seq2seq checkpoint (e.g. the GenIE BART); each "
                    "executor builds the constraint stack in that model's "
                    "tokenizer space and scores with it (production path; "
                    "requires torch+transformers on the cluster)")
    ap.add_argument("--hf-device", default="cuda",
                    help="device for --hf-checkpoint workers")
    ap.add_argument("--n-chunks", type=int, default=16)
    ap.add_argument("--chunks-per-job", type=int, default=4)
    ap.add_argument("--salt-buckets", type=int, default=0,
                    help="explicit skew salting for the dedup stage (0 = AQE only)")
    ap.add_argument("--cpus", type=int, default=0,
                    help="local[<n>] master for sandbox runs; 0 = use spark-submit master")
    ap.add_argument("--as-documents", action="store_true",
                    help="input is a documents(doc_id,text,lang,...) table; adapt to page shape")
    # pre-extraction curation cascade (datapipe/curation.py, applied in
    # production order: url-dedup -> decontaminate -> gate -> neardup-cc
    # -> redact -> line-dedup; all lazy except the CC rounds, all optional)
    ap.add_argument("--dedup-url", action="store_true",
                    help="fold crawl re-fetches by normalized URL (newest "
                    "warc_ts fetch wins) before extraction")
    ap.add_argument("--decontaminate-eval",
                    help="parquet of held-out eval docs (text column); pages "
                    "sharing any 8-gram with it are dropped")
    ap.add_argument("--quality-gate", action="store_true",
                    help="drop pages failing the Gopher-style quality gate")
    ap.add_argument("--neardup-cc", action="store_true",
                    help="transitive near-dup dedup: MinHash-LSH pairs + "
                    "connected components, keep one page per cluster")
    ap.add_argument("--redact-contacts", action="store_true",
                    help="rewrite emails/URLs in page text to <EMAIL>/<URL>")
    ap.add_argument("--line-dedup", action="store_true",
                    help="corpus-wide first-occurrence line dedup of page text")
    ap.add_argument("--strip-boilerplate", action="store_true",
                    help="drop lines appearing in >= --boilerplate-min-df "
                         "distinct pages (C4/CCNet boilerplate removal)")
    ap.add_argument("--boilerplate-min-df", type=int, default=3)
    if cfg_ns.config:
        with open(cfg_ns.config, encoding="utf-8") as f:
            cfg = json.load(f)
        known = {a.dest for a in ap._actions}
        bad = set(cfg) - known
        if bad:
            ap.error(f"unknown config keys: {sorted(bad)}")
        ap.set_defaults(**cfg)
    args = ap.parse_args(argv)
    if not args.input or not args.output:
        ap.error("--input and --output are required (CLI or --config)")
    for ent, rel in (("ent_catalog", "rel_catalog"), ("ent_trie", "rel_trie")):
        if bool(getattr(args, ent)) != bool(getattr(args, rel)):
            ap.error(f"--{ent.replace('_', '-')} and --{rel.replace('_', '-')}"
                     " are given together or not at all")
    return args


def main():
    args = parse_args()

    spark = build_session(args)
    t_start = time.time()

    pages = load_pages(spark, args)

    curation_on = (
        args.dedup_url or args.decontaminate_eval or args.quality_gate
        or args.neardup_cc or args.redact_contacts or args.line_dedup
        or args.strip_boilerplate
    )
    if curation_on:
        from genie_spark.datapipe.curation import curate_pages

        eval_docs = (
            spark.read.parquet(args.decontaminate_eval)
            if args.decontaminate_eval else None
        )
        pages = curate_pages(
            pages,
            url_dedup=args.dedup_url,
            ts_col="warc_ts" if args.dedup_url else None,
            eval_docs=eval_docs,
            gate=args.quality_gate,
            neardup_cc=args.neardup_cc,
            redact=args.redact_contacts,
            dedup_lines=args.line_dedup,
            strip_boilerplate=args.strip_boilerplate,
            boilerplate_min_df=args.boilerplate_min_df,
        )

    # catalogs derive from the CURATED corpus: dropped/redacted text must
    # not contribute vocabulary
    ents, rels = load_catalogs(spark, args, pages)

    from genie_spark.checkpoint import lineage_df, run_checkpointed
    from genie_spark.canonicalize import materialize_graph, write_graph
    from genie_spark.pipeline import GenieExtractor, extract_pipeline

    extractor = GenieExtractor(
        spark, ents, rels, num_beams=args.num_beams,
        num_return_sequences=args.num_return_sequences,
        length_penalty=args.length_penalty, bos_first=args.bos_first,
        trie_artifacts=(args.ent_trie, args.rel_trie)
        if args.ent_trie else None,
        stack_factory=stack_factory_for(args),
    )

    def process(chunked_pages: DataFrame) -> DataFrame:
        out = extract_pipeline(
            spark,
            chunked_pages,
            ents,
            rels,
            lang=args.lang,
            extractor=extractor,
        )
        # re-attach chunk for the partitioned checkpoint write
        from genie_spark.checkpoint import with_chunk

        return with_chunk(out, key="url", n_chunks=args.n_chunks)

    extract_out = os.path.join(args.output, "extracted")
    processed = run_checkpointed(
        spark,
        pages,
        process,
        extract_out,
        key="url",
        n_chunks=args.n_chunks,
        chunks_per_job=args.chunks_per_job,
    )

    # downstream: canonicalize + graph materialize from the checkpointed data
    extracted = spark.read.parquet(os.path.join(extract_out, "data"))
    ent_cat = spark.createDataFrame(
        [(f"Q{i}", n, "en_title") for i, n in enumerate(ents)],
        ["id", "name", "provenance"],
    )
    rel_cat = spark.createDataFrame(
        [(f"P{i}", n, "en_title") for i, n in enumerate(rels)],
        ["id", "name", "provenance"],
    )
    graph = materialize_graph(
        extracted, ent_cat, rel_cat, salt_buckets=args.salt_buckets
    )
    graph_path = os.path.join(args.output, "graph")
    sink = write_graph(graph, graph_path, mode="overwrite")

    wall = time.time() - t_start
    lin = lineage_df(spark, extract_out)
    # read back through the sink actually used: on an Iceberg-enabled
    # cluster graph_path is never written, so a parquet count would crash
    from genie_spark.iceberg import read_table

    n_rows = (
        read_table(spark, "genie.graph", graph_path).count()
        if sink == "iceberg"
        else spark.read.parquet(graph_path).count()
    )
    summary = {
        "chunks_processed_this_run": processed,
        "graph_triples": n_rows,
        "wall_s": round(wall, 3),
        "lineage_chunks": lin.count() if lin is not None else 0,
        "curation": {
            "dedup_url": bool(args.dedup_url),
            "decontaminate": bool(args.decontaminate_eval),
            "quality_gate": bool(args.quality_gate),
            "neardup_cc": bool(args.neardup_cc),
            "redact_contacts": bool(args.redact_contacts),
            "line_dedup": bool(args.line_dedup),
            "strip_boilerplate": bool(args.strip_boilerplate),
        },
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
