"""Page-level curation composition: the pre-extraction cleaning cascade a
production crawl→KG pipeline runs, assembled from the datapipe operators
in the order that minimizes content reads at scale:

1. URL-keyed crawl dedup (cheapest — no content bytes touched)
2. benchmark decontamination (broadcast eval grams, corpus never shuffled)
3. quality gate (row-local, one scan)
4. PII redaction (row-local rewrite)
5. corpus-wide line dedup (the one content shuffle, over survivors only)

Each stage is optional; :func:`curate_pages` applies the enabled ones
lazily (no actions — the whole cascade is one logical plan feeding the
extraction stage). Pages are keyed by ``url`` (the page shape's id).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import decontaminate, line_dedup
from .textstats import gate_passed_col, redact_col
from .urls import dedup_by_url


def dedup_pages_by_url(
    pages: DataFrame,
    ts_col: Optional[str] = None,
) -> DataFrame:
    """Row-level companion of :func:`dedup_by_url`: returns the surviving
    PAGES (full rows), not the key table. With ``ts_col`` the newest
    fetch of each normalized URL wins (keep='latest'); without it the
    lexicographically-smallest exact URL wins. Among refetches that share
    the kept exact URL, the newest ``ts_col`` row is kept (assumes one
    row per (url, ts) — the crawl-table grain)."""
    keep = "latest" if ts_col is not None else "first"
    kept = dedup_by_url(
        pages, id_col="url", keep=keep, ts_col=ts_col
    ).select(F.col("keep_id").alias("url"))
    out = pages.join(kept, "url", "left_semi")
    if ts_col is not None:
        newest = out.groupBy("url").agg(F.max(ts_col).alias(ts_col))
        out = out.join(newest, ["url", ts_col], "left_semi")
    return out


def curate_pages(
    pages: DataFrame,
    url_dedup: bool = False,
    ts_col: Optional[str] = None,
    eval_docs: Optional[DataFrame] = None,
    gate: bool = False,
    neardup_cc: bool = False,
    redact: bool = False,
    dedup_lines: bool = False,
    strip_boilerplate: bool = False,
    boilerplate_min_df: int = 3,
) -> DataFrame:
    """Apply the enabled curation stages in production order. Returns the
    curated pages with the same schema (text rewritten in place by the
    redaction / line-dedup stages; pages dropped by the filter stages)."""
    if url_dedup:
        pages = dedup_pages_by_url(pages, ts_col=ts_col)
    if eval_docs is not None:
        hits = decontaminate(
            pages, eval_docs, id_col="url"
        ).select("url")
        pages = pages.join(hits, "url", "left_anti")
    if gate:
        # row-local filter form — no join, composes into the scan
        pages = pages.filter(gate_passed_col())
    if neardup_cc:
        # transitive near-dup clustering over the survivors: MinHash-LSH
        # candidate pairs -> connected components -> keep one page per
        # duplicate cluster (min url). Pairwise keep-min under-deletes on
        # A~B~C chains; the closure is the production CCNet/RefinedWeb
        # form. Content is shingled only for pages that reached this
        # stage (after the URL fold and the gate).
        from .dedup import minhash_jaccard_pairs
        from .graph import component_dedup

        pairs = minhash_jaccard_pairs(pages, id_col="url")
        keep = component_dedup(pages.select("url"), pairs, "url")
        pages = pages.join(keep, "url", "left_semi")
    if redact:
        # row-local in-place rewrite — no join
        pages = pages.withColumn("text", redact_col(F.col("text")))
    if dedup_lines:
        ld = line_dedup(pages, id_col="url").select(
            "url", "clean_text"
        )
        pages = (
            pages.join(ld, "url")
            .withColumn("text", F.col("clean_text"))
            .drop("clean_text")
            .filter(F.length("text") > 0)
        )
    if strip_boilerplate:
        # corpus-frequency boilerplate removal AFTER line dedup: lines in
        # >= min_df distinct surviving pages drop from all of them
        # (C4/CCNet family; dedup.boilerplate_strip). In-place rewrite
        # keyed on the page url; fully-boilerplate pages drop.
        from .dedup import boilerplate_strip

        bs = boilerplate_strip(
            pages, id_col="url",
            min_df=boilerplate_min_df,
        ).select("url", "clean_text")
        pages = (
            pages.join(bs, "url")
            .withColumn("text", F.col("clean_text"))
            .drop("clean_text")
            .filter(F.length("text") > 0)
        )
    return pages
