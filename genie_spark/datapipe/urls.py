"""URL normalization + URL-keyed dedup for crawl pipelines.

A crawl re-fetches the same page under cosmetically different URLs
(tracking params, fragments, host-case, trailing slashes); URL-keyed
dedup before any text processing is the cheapest dedup tier — one
row-local normalization plus one hash-groupBy, no content reads. The
normalizer is deliberately rule-explicit (documented below) rather than
RFC-complete, and every rule is a Column expression with an exact DuckDB
twin so the operator sits under the hash gate.

Normalization rules (applied in order):
1. scheme and host lowercased (path/query case preserved);
2. fragment dropped;
3. ``utm_*`` query parameters dropped (param order otherwise preserved);
4. a single trailing slash dropped from the path (so ``/a/`` == ``/a``
   and a bare ``https://h/`` == ``https://h``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# RE2-safe (also valid Java regex) component extractors
_SCHEME = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOST = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
_QUERY = "\\?([^#]*)"


def normalize_url_col() -> Column:
    """The ``url`` column normalized: lower-cased scheme and host, no
    trailing slash, query parameters kept in order minus ``utm_*``."""
    url = F.col("url")
    scheme = F.lower(F.regexp_extract(url, _SCHEME, 1))
    host = F.lower(F.regexp_extract(url, _HOST, 1))
    path = F.regexp_replace(F.regexp_extract(url, _PATH, 1), "/$", "")
    query = F.regexp_extract(url, _QUERY, 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.startswith("utm_"),
    )
    qpart = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, qpart)


def normalize_url_sql() -> str:
    """DuckDB twin of :func:`normalize_url_col` over the ``url`` column."""
    scheme = f"lower(regexp_extract(url, '{_SCHEME}', 1))"
    host = f"lower(regexp_extract(url, '{_HOST}', 1))"
    path = f"regexp_replace(regexp_extract(url, '{_PATH}', 1), '/$', '')"
    query = "regexp_extract(url, '\\?([^#]*)', 1)"
    kept = (
        f"list_filter(string_split({query}, '&'),"
        f" p -> p <> '' AND NOT starts_with(p, 'utm_'))"
    )
    qpart = (
        f"CASE WHEN len({kept}) > 0 THEN '?' || array_to_string({kept}, '&')"
        f" ELSE '' END"
    )
    return f"({scheme} || '://' || {host} || {path} || {qpart})"


def dedup_by_url(
    pages: DataFrame,
    id_col: str = "doc_id",
    keep: str = "first",
    ts_col: str = None,
) -> DataFrame:
    """URL-keyed dedup: normalize the ``url`` column, keep one
    representative per normalized URL. Returns (norm_url, keep_id, n_dups) — one hash-groupBy over
    short strings, the same scale shape as exact text dedup but without
    touching document content.

    Keep policies:

    * ``keep='first'`` (default): smallest id — a stable canonical
      representative independent of fetch order.
    * ``keep='latest'`` (requires ``ts_col``): the row with the maximal
      ``(ts, id)`` — what a crawl pipeline actually wants: the NEWEST
      fetch of a page wins, id breaks timestamp ties deterministically.
      Implemented as a struct max, which stays partial-aggregatable
      (map-side combine) like min and, unlike ``max_by``, is
      deterministic on ties.
    """
    if keep not in ("first", "latest"):
        raise ValueError(f"keep must be 'first' or 'latest', got {keep!r}")
    cols = [normalize_url_col().alias("norm_url"), F.col(id_col)]
    if keep == "latest":
        if ts_col is None:
            raise ValueError("keep='latest' requires ts_col")
        cols.append(F.col(ts_col))
        keep_agg = (
            F.max(F.struct(F.col(ts_col).alias("t"), F.col(id_col).alias("i")))
            .getField("i")
            .alias("keep_id")
        )
    else:
        keep_agg = F.min(id_col).alias("keep_id")
    return (
        pages.select(*cols)
        .groupBy("norm_url")
        .agg(keep_agg, F.count("*").alias("n_dups"))
    )


def blocklist_filter(docs: DataFrame, rules: DataFrame) -> DataFrame:
    """Domain-blocklist verdicts with SUBDOMAIN (suffix) matching — the
    crawl-filtering form: a rule ``src1.com`` blocks ``src1.com`` AND
    every ``*.src1.com``. Each host explodes into its label-suffix
    chain (``www.src1.com`` → [www.src1.com, src1.com, com]) — row-local
    and bounded by label count — and the chain joins the rule set by
    exact key. No regex scan, no LIKE '%' (both defeat pushdown and
    cost O(rules) per row); the join is O(labels) per host however
    large the blocklist grows. Ties (nested rules both matching) pick
    the lexicographically smallest rule — deterministic. Returns one
    row per input doc: ``(id, host, blocked, rule)`` with rule NULL for
    clean hosts.

    Scale shape (100 TB): the suffix explode is a constant ≤ ~6× row
    fan-out on the (id, host) projection only; the rule join hash-keys
    on the suffix (broadcastable when the blocklist is small, still a
    plain shuffle join when it is not — not assumed); the verdict
    groupBy folds back to one row per doc."""
    w = F.split(F.col("host"), "\\.")
    suffixes = F.transform(
        F.sequence(F.lit(1), F.size(w)),
        lambda i: F.array_join(F.slice(w, i, F.size(w) - i + 1), "."),
    )
    ex = docs.select(
        F.col("doc_id"), F.col("host"), F.explode(suffixes).alias("suf")
    )
    hits = (
        ex.join(rules.select(F.col("rule").alias("suf"), "rule"), "suf")
        .groupBy("doc_id")
        .agg(F.min("rule").alias("rule"))
    )
    return docs.select("doc_id", "host").join(hits, "doc_id", "left").select(
        F.col("doc_id"),
        F.col("host"),
        F.col("rule").isNotNull().alias("blocked"),
        "rule",
    )
