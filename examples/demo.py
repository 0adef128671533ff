#!/usr/bin/env python
"""genie_spark demo — the reference Demo.ipynb flow on the Spark engine.

Mirrors the reference notebook step for step (reference:
notebooks/Demo.ipynb): build/load prefix tries for a closed-world
schema, run constrained generation over ad-hoc sentences with a beam
width larger than the returned count, and map surface forms to
catalog ids (and back, with unmapped statuses). Everything runs
sandbox-local with the deterministic scorer; on a cluster pass
``stack_factory=functools.partial(pipeline.hf_stack_factory,
checkpoint=..., device=...)`` to GenieExtractor for the transformer path.

    python examples/demo.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

ENTITIES = [
    "Alice Stone", "Zurich", "Nobel Prize", "Einstein", "Phoenix Arizona",
    "KTRK", "KSAZ", "Carson",
]
RELATIONS = ["birthplace", "awarded", "anchor for", "located in"]

SENTENCES = [
    "Prior to KTRK, Carson was an anchor for KSAZ in Phoenix Arizona.",
    "The physicist Einstein was awarded a Nobel Prize.",
    "Alice Stone birthplace Zurich.",
]


def main(spark: SparkSession = None) -> None:
    own_session = spark is None
    if own_session:
        spark = (
            SparkSession.builder.master("local[4]")
            .appName("genie-spark-demo")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")

    # 1. Build + persist the schema tries once (notebook: get_trie_from_strings)
    from genie_spark.pipeline import GenieExtractor, save_trie_artifacts

    trie_dir = tempfile.mkdtemp(prefix="genie_demo_tries_")
    ent_path = os.path.join(trie_dir, "entity_trie")
    rel_path = os.path.join(trie_dir, "relation_trie")
    save_trie_artifacts(ENTITIES, RELATIONS, ent_path, rel_path)
    print(f"tries saved under {trie_dir}")

    # 2. Constrained generation over ad-hoc sentences (notebook:
    # model.sample with num_beams=10, num_return_sequences=2)
    extractor = GenieExtractor(
        spark,
        trie_artifacts=(ent_path, rel_path),
        num_beams=10,
        num_return_sequences=2,
    )
    df = spark.createDataFrame([(s,) for s in SENTENCES], ["input"])
    out = extractor.transform(df).cache()
    print("\n=== constrained generation (width 10, top 2 returned) ===")
    for r in out.collect():
        print(f"\n  {r['input']}")
        for b in r["beams"]:
            print(f"    {b['log_prob']:9.3f}  {b['text']}")

    # 3. Canonicalize surface forms to catalog ids (notebook:
    # map_names_to_ids / convert_to_triplets with surface_form_mappings)
    from genie_spark.canonicalize import surface_to_id

    ent_cat = spark.createDataFrame(
        [(f"Q{i}", n, "en_title") for i, n in enumerate(ENTITIES)],
        ["id", "name", "provenance"],
    )
    rel_cat = spark.createDataFrame(
        [(f"P{i}", n, "en_title") for i, n in enumerate(RELATIONS)],
        ["id", "name", "provenance"],
    )
    triples = out.select(F.explode("pred_triples").alias("t")).select(
        "t.s", "t.r", "t.o"
    )
    ids = surface_to_id(triples, ent_cat, rel_cat)
    print("\n=== canonicalized id triples ===")
    ids.show(truncate=False)

    # 4. Forced scoring of the emitted predictions — extraction
    # confidence (A9 analog; lower loss = the scorer prefers its output)
    scored = extractor.score_targets(out.filter(F.col("prediction").isNotNull()))
    print("=== extraction confidence (label-smoothed NLL) ===")
    scored.select(
        "input", F.round("nll_sum", 3).alias("nll"), "n_tokens",
        F.round("loss", 3).alias("loss"),
    ).show(truncate=60)

    if own_session:
        spark.stop()


if __name__ == "__main__":
    main()
