"""Entity linking / canonicalization joins and graph materialization.

The reference canonicalizes by Python dict lookup
(reference: genie/models/genie_base_pl.py:406-410 via the
surface_form2id dict, genie/datamodule/utils/surface_forms_utils.py:278-295).
Spark-first, each dict lookup becomes a **broadcast equi-join** against
the (small) catalog dimension, and the triple-set dedup becomes a
hash-partitioned ``dropDuplicates`` — with the head-entity skew the
north_rule calls out handled explicitly (salted pre-aggregation) plus AQE
skew-join as the adaptive backstop.

Scale notes (100 TB):
* ent/rel catalogs are ≤ a few GB (6M names) — always broadcast; the fact
  table side never shuffles for the join itself.
* the dedup shuffle keys on (s_id, r_id, o_id); Zipf-head subjects
  concentrate traffic. ``dedup_triples`` therefore pre-aggregates within
  partitions (map-side distinct via salted groupBy) before the global
  distinct — the classic two-phase distinct that bounds any single
  reducer's input by (#salts × #distinct), not by row count.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def dedup_catalog(catalog: DataFrame) -> DataFrame:
    """J6 (reference genie/utils/utils.py:39-104): drop catalog entries
    whose surface form maps to more than one id — an ambiguous name can't
    canonicalize. One groupBy: a name listed once keeps its row's id and
    provenance (the min over one row is that row's value); NULL names
    never link, so they are dropped too."""
    return (
        catalog.groupBy("name")
        .agg(
            F.expr("count(1) AS _rows"),
            F.expr("min(id) AS id"),
            F.expr("min(provenance) AS provenance"),
        )
        .filter("_rows = 1 AND name IS NOT NULL")
        .select("id", "name", "provenance")
    )


def surface_to_id(
    triples: DataFrame,
    ent_catalog: DataFrame,
    rel_catalog: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """J1: (s, r, o) surface forms → (s_id, r_id, o_id) via three broadcast
    joins (reference genie_base_pl.py:406-410). ``how='left'`` keeps
    unlinkable triples with null ids (J2's no_match analog).

    Input must have columns s, r, o; passes through all other columns.
    """
    ents = dedup_catalog(ent_catalog)
    e_s = broadcast(ents.selectExpr("name AS s", "id AS s_id", "provenance AS s_provenance"))
    e_o = broadcast(ents.selectExpr("name AS o", "id AS o_id", "provenance AS o_provenance"))
    r_r = broadcast(dedup_catalog(rel_catalog).selectExpr("name AS r", "id AS r_id"))
    return triples.join(e_s, "s", how).join(r_r, "r", how).join(e_o, "o", how)


def id_to_surface(
    id_triples: DataFrame,
    ent_catalog: DataFrame,
    rel_catalog: DataFrame,
) -> DataFrame:
    """J2 (reference triplet_utils.py:38-68, surface_forms_utils.py:180-232):
    annotate id-triples with surface forms + per-position match status
    (`title` / `label` / `no_match`). Left joins keep unmatched ids.

    Input columns: s_id, r_id, o_id (+passthrough).
    """
    ents = ent_catalog.select("id", "name", "provenance")
    rels = rel_catalog.select("id", "name")

    def status(prov):
        return (
            F.when(prov.isNull(), F.lit("no_match"))
            .when(prov == "en_title", F.lit("title"))
            .otherwise(F.lit("label"))
        )

    out = id_triples
    for pos in ("s", "o"):
        dim = broadcast(
            ents.select(
                F.col("id").alias(f"{pos}_id"),
                F.col("name").alias(pos),
                F.col("provenance").alias(f"_{pos}_prov"),
            )
        )
        out = out.join(dim, f"{pos}_id", "left").withColumn(
            f"{pos}_status", status(F.col(f"_{pos}_prov"))
        ).drop(f"_{pos}_prov")
    dim_r = broadcast(
        rels.select(F.col("id").alias("r_id"), F.col("name").alias("r"))
    )
    out = out.join(dim_r, "r_id", "left").withColumn(
        "r_status", F.when(F.col("r").isNull(), "no_match").otherwise("title")
    )
    # roll-up per triple (reference surface_forms_utils.py:207-213): the
    # weakest position status wins (no_match > label > title)
    return out.withColumn(
        "triple_status",
        F.when(
            (F.col("s_status") == "no_match")
            | (F.col("r_status") == "no_match")
            | (F.col("o_status") == "no_match"),
            "no_match",
        )
        .when((F.col("s_status") == "label") | (F.col("o_status") == "label"), "label")
        .otherwise("title"),
    )


def dedup_triples(
    triples: DataFrame,
    keys=("s_id", "r_id", "o_id"),
    salt_buckets: int = 0,
) -> DataFrame:
    """Global distinct over (s,r,o) with explicit skew handling.

    With ``salt_buckets=0``: plain ``dropDuplicates`` — Spark already does
    partial (map-side) distinct before the shuffle, and AQE splits skewed
    reduce partitions. With ``salt_buckets=N``: the two-phase salted form
    the north_rule asks to demonstrate — phase 1 dedups within
    (salt, keys) groups where salt spreads each hot key over N reducers;
    phase 2 dedups the (now ≤ N × distinct) survivors.
    """
    keys = list(keys)
    if salt_buckets <= 1:
        return triples.dropDuplicates(keys)
    salted = triples.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(k) for k in keys], F.spark_partition_id()), F.lit(salt_buckets))
    )
    phase1 = salted.dropDuplicates(keys + ["_salt"]).drop("_salt")
    return phase1.dropDuplicates(keys)


def materialize_graph(
    extracted: DataFrame,
    ent_catalog: DataFrame,
    rel_catalog: DataFrame,
    salt_buckets: int = 0,
) -> DataFrame:
    """Full downstream stage: exploded predictions → linked id triples →
    global dedup → graph rows (subj, pred, obj, subj_name, pred_name,
    obj_name, n_sources, first_url).

    ``extracted`` is the output of the generation stage: one row per
    sentence with ``pred_triples: array<struct<s,r,o>>`` and ``url``.
    Provenance aggregates (n_sources, first_url) replace the reference's
    per-rank JSONL lineage (genie_base_pl.py:275-297) with a single
    shuffle-sharing groupBy.
    """
    # a NULL triple inlines as a row of NULLs, which the inner joins drop
    flat = extracted.selectExpr("url", "inline(pred_triples)")
    linked = surface_to_id(flat, ent_catalog, rel_catalog, how="inner")
    if salt_buckets > 1:
        # explicit skew pre-reduction: dedup (triple, url) pairs under a
        # salt first, so the final hot-key reducer sees at most the
        # distinct-url count per triple, not the raw mention count
        linked = dedup_triples(
            linked, keys=("s_id", "r_id", "o_id", "url"), salt_buckets=salt_buckets
        )
    # one shuffle does both dedup and provenance aggregation. min (not
    # first): when several surface forms link to one id, first() is
    # aggregation-order-dependent — min keeps the graph rows
    # partition-invariant, the invariant the whole decode path holds.
    grouped = linked.groupBy("s_id", "r_id", "o_id").agg(
        F.expr("min(s) AS subj_name"),
        F.expr("min(r) AS pred_name"),
        F.expr("min(o) AS obj_name"),
        F.expr("count(DISTINCT url) AS n_sources"),
        F.expr("min(url) AS first_url"),
    )
    return grouped.selectExpr(
        "s_id AS subj", "r_id AS pred", "o_id AS obj",
        "subj_name", "pred_name", "obj_name", "n_sources", "first_url",
    )


def write_graph(
    graph: DataFrame,
    path: str,
    mode: str = "append",
    table: Optional[str] = None,
) -> str:
    """Materialize the graph table. With an Iceberg runtime and ``table``
    identifier: snapshot-committed ``writeTo`` (see iceberg.py); otherwise
    a Parquet directory with identical partitioning (by predicate —
    bounded cardinality, prunes predicate-filtered reads). Returns the
    sink kind actually used ('iceberg' | 'parquet')."""
    from .iceberg import write_table

    return write_table(
        graph,
        table or "genie.graph",
        path,
        mode=mode,
        partition_by="pred",
    )


def fuzzy_candidate_strings(
    mentions: DataFrame,
    catalog: DataFrame,
    max_block_df: int = 1_000_000,
    max_dist: Optional[int] = None,
) -> DataFrame:
    """The string-level core of fuzzy candidate generation: blocked +
    Levenshtein-scored pairs over DISTINCT (mention string, catalog
    name) — one row per surviving pair: (mention, entity_name, dist).

    Dedupe-first: edit distance depends only on the strings, so
    blocking, the length prefilter, and the DP all run on the distinct
    surface-form tables (surface forms ≪ rows at web scale — a catalog
    with heavy duplicate listings scores each name once, measured 9.5M
    id-pairs -> 64x64 string pairs on the sf0.1 fixture). The df-cut
    stays ID-level (df(tok) = #catalog ROWS whose name contains tok,
    via per-name multiplicities) so the blocking semantics are
    unchanged from the id formulation.

    ``max_dist`` prunes before scoring: |len(a)-len(b)| <= lev(a,b)
    drops wide pairs on a row-local length compare, and survivors score
    through Spark 4's thresholded ``levenshtein(l, r, t)`` (JVM
    early-exit, -1 past the bound). Same result set as post-filtering
    full scores."""
    dnames = catalog.groupBy(F.col("name").alias("_name")).agg(
        F.count(F.lit(1)).cast("long").alias("_n_ids")
    )
    dmen = mentions.select(F.col("mention").alias("_mention")).distinct()

    def toks(df, keyc):
        return (
            df.select(
                F.col(keyc),
                F.explode(F.split(F.col(keyc), " ")).alias("tok"),
            )
            .filter(F.col("tok") != "")
            .distinct()
        )

    name_toks = toks(dnames, "_name")
    keep = (
        name_toks.join(dnames, "_name")
        .groupBy("tok")
        .agg(F.sum("_n_ids").cast("long").alias("df"))
        .filter(F.col("df") <= max_block_df)
        .select("tok")
    )
    cand = (
        toks(dmen, "_mention")
        .join(F.broadcast(keep), "tok")
        .join(name_toks, "tok")
        .select("_mention", "_name")
        .distinct()
    )
    if max_dist is not None:
        cand = cand.filter(
            F.abs(F.length(F.col("_mention")) - F.length(F.col("_name")))
            <= max_dist
        )
        lev = F.levenshtein(F.col("_mention"), F.col("_name"), max_dist)
    else:
        lev = F.levenshtein(F.col("_mention"), F.col("_name"))
    scored = cand.select(
        F.col("_mention").alias("mention"),
        F.col("_name").alias("entity_name"),
        lev.cast("long").alias("dist"),
    )
    if max_dist is not None:
        # thresholded levenshtein returns -1 past the bound
        scored = scored.filter(
            (F.col("dist") >= 0) & (F.col("dist") <= max_dist)
        )
    return scored


def fuzzy_link(
    mentions: DataFrame,
    catalog: DataFrame,
    max_block_df: int = 1_000_000,
) -> DataFrame:
    """Approximate entity linking for surface forms exact-match (J1,
    surface_to_id) cannot resolve — the standard blocked-ER shape
    (token blocking + edit-distance scoring + deterministic argmin).

    The reference links only exact trie-constrained names
    (genie/models/genie_base_pl.py:406-410); real KG construction needs
    a fallback for OCR noise / typos / morphological variants. Stages:

    1. **Blocking**: candidate pairs share >= 1 whitespace token between
       mention and catalog name. Tokens whose catalog document frequency
       exceeds ``max_block_df`` are excluded from blocking (the df-cut
       that bounds hub-token fan-out at web scale — same discipline as
       ngram_jaccard_pairs' df_cut).
    2. **Scoring**: unit-cost Levenshtein on the full strings (JVM
       F.levenshtein — identical DP definition in DuckDB).
    3. **Resolution**: per-mention argmin via min(struct(dist, id,
       name)) — partial-aggregatable and fully deterministic (ties break
       to the lowest entity id).

    Mentions none of whose tokens survive blocking produce no row
    (honest recall accounting; callers union a left-anti pass if they
    need explicit no_match rows). Stages 1-2 live in
    :func:`fuzzy_candidate_strings` (shared with entity resolution).

    The argmin also runs at STRING level: for a fixed mention string,
    min over expanded candidates (dist, entity_id) equals min over
    names of (dist(name), min_id(name)) — lexicographic min over the
    union of per-name id sets is attained at some name's least id — so
    the per-name min id joins in as a dimension and the groupBy moves
    one row per distinct (mention, name) pair, never the expanded
    candidate set. Mention ids fan back in with one equi-join at the
    end."""
    spairs = fuzzy_candidate_strings(mentions, catalog, max_block_df)
    name_min_id = catalog.groupBy(
        F.col("name").alias("entity_name")
    ).agg(F.min(F.col("id")).alias("_min_id"))
    best = (
        spairs.join(name_min_id, "entity_name")
        .groupBy("mention")
        .agg(
            F.min(
                F.struct(
                    F.col("dist"),
                    F.col("_min_id").alias("entity_id"),
                    F.col("entity_name"),
                )
            ).alias("_b")
        )
    )
    return best.join(
        mentions.select("mention_id", "mention"), "mention"
    ).select(
        "mention_id",
        "mention",
        F.col("_b.dist").alias("dist"),
        F.col("_b.entity_id").alias("entity_id"),
        F.col("_b.entity_name").alias("entity_name"),
    )


# Entity resolution's bars: a mention-entity pair within Levenshtein
# ER_MAX_DIST is a candidate edge, and blocking drops tokens found in more
# than FUZZY_BLOCK_DF catalog rows (permissive on the 16-token fixture
# vocab; the df-cut is the hub-token bound that matters at real
# vocabulary scale).
ER_MAX_DIST, FUZZY_BLOCK_DF = 1, 1_000_000


def resolve_entities(
    mentions: DataFrame,
    catalog: DataFrame,
) -> DataFrame:
    """Collective entity resolution: transitive clustering over the
    THRESHOLDED fuzzy-candidate graph. Where :func:`fuzzy_link` keeps
    each mention's single best entity, resolution keeps EVERY candidate
    pair with dist <= ER_MAX_DIST as an edge of a bipartite
    mention-entity graph and runs distributed connected components over
    it — a mention close to two catalog entries merges those entries
    into one cluster (duplicate/near-duplicate catalog listings), and
    chains M1~E1, M2~E1, M2~E2 collapse transitively, which pairwise
    linking cannot do. Returns one row per node ('M'<mention_id> /
    'E'<entity_id>) with its cluster label = min reachable node id;
    untouched nodes are their own singleton cluster.

    Scale shape (100 TB): candidate generation is the df-cut blocked
    join (no all-pairs). The component loop runs over the STRING
    QUOTIENT graph, not the id graph: connectivity here depends only on
    the (mention string, name string) pair — duplicate listings share
    the exact same name — so edges dedup to distinct string pairs
    before the iterative closure (measured 957k id-pairs -> string
    pairs at sf0.1; dedupe-before-graph is the production ER shape),
    and labels map back to ids with one join + a per-component min
    (the canonical label stays the min reachable NODE id, exactly what
    the recursive-CTE oracle computes)."""
    from .datapipe.graph import connected_components

    spairs = fuzzy_candidate_strings(
        mentions, catalog, FUZZY_BLOCK_DF, max_dist=ER_MAX_DIST
    )
    # string-level quotient edges: kind-tagged so a mention string that
    # equals a catalog name stays two distinct quotient nodes
    sedges = spairs.select(
        F.concat(F.lit("m\x01"), F.col("mention")).alias("id_a"),
        F.concat(F.lit("e\x01"), F.col("entity_name")).alias("id_b"),
    ).distinct()
    scomp = connected_components(sedges).withColumnRenamed("id", "key")
    nodes = (
        mentions.select(
            F.concat(F.lit("M"), F.col("mention_id").cast("string")).alias("node"),
            F.concat(F.lit("m\x01"), F.col("mention")).alias("key"),
        )
        .union(
            catalog.select(
                F.concat(F.lit("E"), F.col("id").cast("string")).alias("node"),
                F.concat(F.lit("e\x01"), F.col("name")).alias("key"),
            )
        )
        .distinct()
    )
    # no forced broadcast: the string-component table is bounded by
    # distinct surface forms — usually dimension-sized, but catalog-
    # scale in the worst case; AQE picks broadcast when it fits
    labeled = nodes.join(scomp, "key", "left")
    canon = (
        labeled.filter(F.col("component").isNotNull())
        .groupBy("component")
        .agg(F.min("node").alias("_canon"))
    )
    return (
        labeled.join(canon, "component", "left")
        .select(
            "node", F.coalesce("_canon", F.col("node")).alias("component")
        )
    )


def fuse_latest(assertions: DataFrame) -> DataFrame:
    """Knowledge fusion over timestamped assertions: latest-object-wins
    per (subject, relation) plus conflict accounting — the temporal step
    after materialize_graph when the same fact is re-extracted from
    pages crawled at different times (warc_ts in the north-rule input).

    One partial-aggregatable groupBy: the winning object is
    max(struct(ts, o)) (newest assertion; ties break to the greatest
    object — deterministic), alongside assertion/object counts and a
    conflicted flag (>= 2 distinct objects ever asserted). The
    count(DISTINCT o) forces an expand-style two-phase agg under AQE but
    stays keyed on (s, r) — no extra shuffle of the fact table beyond
    the one aggregation."""
    return (
        assertions.groupBy(
            "s", "r"
        )
        .agg(
            F.max(F.struct("ts", "o")).alias("_w"),
            F.count(F.lit(1)).cast("long").alias("n_assertions"),
            F.countDistinct(F.col("o")).cast("long").alias("n_objects"),
        )
        .select(
            "s",
            "r",
            F.col("_w.o").alias("o_latest"),
            F.col("_w.ts").alias("latest_ts"),
            "n_assertions",
            "n_objects",
            (F.col("n_objects") > 1).cast("long").alias("conflicted"),
        )
    )


def fuse_vote(assertions: DataFrame) -> DataFrame:
    """Knowledge fusion by majority vote: per (subject, relation) the
    object asserted by the most sources wins (ties break to the
    greatest object — deterministic), with margin accounting. The
    complement of :func:`fuse_latest` for sources without trustworthy
    timestamps (reference counterpart: the fact-aggregation step after
    extraction, genie/utils/evaluation_utils.py aggregates per-triple
    sets; voting is the web-scale variant when the same fact arrives
    from many crawls).

    Plan: one groupBy on (s, r, o) reduces the fact table to per-object
    vote counts (partial-aggregatable, map-side combined), then a
    second groupBy on (s, r) over the already-reduced counts picks
    max(struct(n_votes, o)) and sums totals — the second shuffle moves
    only one row per distinct object, never the fact table.
    margin_ppm = winner votes in ppm of all votes (integer floor-div,
    oracle-exact); 1_000_000 means unanimous."""
    votes = assertions.groupBy(
        "s",
        "r",
        "o",
    ).agg(F.count(F.lit(1)).cast("long").alias("n_votes"))
    return (
        votes.groupBy("s", "r")
        .agg(
            F.max(F.struct("n_votes", "o")).alias("_w"),
            F.sum("n_votes").cast("long").alias("n_total"),
            F.count(F.lit(1)).cast("long").alias("n_objects"),
        )
        .select(
            "s",
            "r",
            F.col("_w.o").alias("o_winner"),
            F.col("_w.n_votes").alias("n_votes"),
            "n_total",
            "n_objects",
            F.expr("_w.n_votes * 1000000L div n_total").alias("margin_ppm"),
        )
    )


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Diff two fused-graph snapshots (e.g. :func:`fuse_latest` outputs
    from two crawl cuts): per (subject, relation) key, status is
    'added' (key only in new), 'removed' (only in old), 'changed'
    (both, different object) or 'unchanged'. The continuous-crawl KG
    maintenance primitive — what a downstream consumer reads to apply
    incremental updates instead of reloading the graph.

    Plan: one full outer join keyed on (s, r) — both sides are already
    one row per key, so the join moves each graph exactly once; no
    text, no fact table. Callers normally filter status != 'unchanged'
    (the diff is small relative to the graph; the filter happens after
    the join because 'unchanged' needs both sides to decide)."""
    keys = ["s", "r"]
    o = old.select(
        *keys, F.col("o_latest").alias("o_old"), F.lit(1).alias("_in_old")
    )
    n = new.select(
        *keys, F.col("o_latest").alias("o_new"), F.lit(1).alias("_in_new")
    )
    return o.join(n, keys, "full_outer").select(
        *keys,
        "o_old",
        "o_new",
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("o_old") != F.col("o_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def triple_evidence(assertions: DataFrame) -> DataFrame:
    """Provenance/evidence aggregation per distinct triple: how many
    assertions and distinct sources back it, its first/last sighting,
    and a deterministic representative source (min) — the evidence set
    a constructed KG publishes next to each fact (the reference emits
    per-triple provenance implicitly via its per-sample outputs,
    genie/utils/evaluation_utils.py; at crawl scale the evidence set IS
    the trust signal downstream fusion consumes).

    One partial-aggregatable groupBy on (s, r, o): every aggregate
    (count, min, max, countDistinct) map-side combines; no second
    shuffle, no window."""
    return assertions.groupBy(
        "s",
        "r",
        "o",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_assertions"),
        F.countDistinct(F.col("src")).cast("long").alias("n_sources"),
        F.min(F.col("ts")).alias("first_ts"),
        F.max(F.col("ts")).alias("last_ts"),
        F.min(F.col("src")).alias("src_sample"),
    )


def fuse_weighted(assertions: DataFrame) -> DataFrame:
    """Weight-aware knowledge fusion: per (subject, relation) the
    object with the greatest TOTAL integer weight wins (source-trust /
    quality-score voting; ties break to the greatest object). Same
    two-cascade plan as :func:`fuse_vote` — the first groupBy reduces
    the fact table to per-object weight sums (map-side combined), the
    second moves one row per distinct object. margin_ppm = winner
    weight in ppm of all weight (integer floor-div)."""
    sums = assertions.groupBy(
        "s",
        "r",
        "o",
    ).agg(F.sum(F.col("w")).cast("long").alias("w_sum"))
    return (
        sums.groupBy("s", "r")
        .agg(
            F.max(F.struct("w_sum", "o")).alias("_w"),
            F.sum("w_sum").cast("long").alias("w_total"),
            F.count(F.lit(1)).cast("long").alias("n_objects"),
        )
        .select(
            "s",
            "r",
            F.col("_w.o").alias("o_winner"),
            F.col("_w.w_sum").alias("w_winner"),
            "w_total",
            "n_objects",
            F.expr("_w.w_sum * 1000000L div w_total").alias("margin_ppm"),
        )
    )


def link_prior(catalog: DataFrame, support: DataFrame) -> DataFrame:
    """Commonness-prior entity disambiguation — the popularity baseline
    of entity linking (the P(entity|mention) prior of Wikipedia-anchor
    linkers): for every surface form the candidate with the highest KG
    support wins; ties break to the lowest id (deterministic, so the
    DuckDB oracle is exact). The reference's pipeline (J6,
    utils.py:39-60) DROPS ambiguous names from the catalog; this
    resolves them instead when a prior is acceptable, returning one row
    per surface form with its candidate count, the winning entity and
    the winner's support.

    Scale shape (100 TB of facts): ``support`` is a fact-side groupBy
    computed upstream (dimension-sized output); here the catalog joins
    it (dimension × dimension) and ONE min(struct(-support, id))
    groupBy on the surface form decides every winner — partial-agg
    map-side, no window over facts, no collect."""
    cand = catalog.select(
        "name", F.col("id").cast("long").alias("id")
    ).join(
        support.select(
            F.col("id").cast("long").alias("id"),
            F.col("support").cast("long").alias("support"),
        ),
        "id",
        "left",
    )
    neg = F.lit(0).cast("long") - F.coalesce(
        F.col("support"), F.lit(0).cast("long")
    )
    key = F.struct(neg.alias("ns"), "id")
    return (
        cand.groupBy("name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.min(key).alias("_w"),
        )
        .select(
            "name",
            "n_candidates",
            F.col("_w.id").alias("entity_id"),
            (F.lit(0).cast("long") - F.col("_w.ns")).alias("support"),
        )
    )


def fact_intervals(assertions: DataFrame) -> DataFrame:
    """Temporal fact VERSIONING: collapse the timestamped assertion
    stream into validity intervals per (subject, relation) — each run of
    consecutive assertions of the same object becomes one version
    ``[valid_from, valid_to)``, open-ended (NULL valid_to) for the
    current one. This is the temporal-KG representation (Wikidata
    start/end qualifiers; bitemporal fact tables) that latest-wins
    fusion (:func:`fuse_latest`) throws away. The islands construction:
    a per-key lag marks object changes, a running sum numbers versions
    (gaps-and-islands over value changes instead of time gaps),
    one aggregate per version, and a lead over the version-grain frame
    closes each interval at its successor's start.

    Determinism: assertion order within a key is (ts, o) — same-instant
    conflicting objects split versions in object order, engine-exact.

    Scale shape (100 TB assertion logs): all three windows and the
    aggregate are PARTITIONED BY (s, r) — one hash Exchange, reused
    across the chain (the lead runs on the version-grain frame, which is
    already keyed); no global sort anywhere."""
    from pyspark.sql import Window

    w = Window.partitionBy("s", "r").orderBy("ts", "o")
    chg = F.when(
        F.lag("o").over(w).isNull()
        | (F.col("o") != F.lag("o").over(w)),
        1,
    ).otherwise(0)
    ver = (
        assertions.select("s", "r", "o", "ts")
        .withColumn("_chg", chg)
        .withColumn(
            "_ver",
            F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    runs = ver.groupBy("s", "r", "_ver").agg(
        F.min("o").alias("o"),
        F.min("ts").alias("_from"),
        F.count(F.lit(1)).cast("long").alias("n_assertions"),
    )
    wv = Window.partitionBy("s", "r").orderBy("_ver")
    return runs.withColumn("_to", F.lead("_from").over(wv)).select(
        "s",
        "r",
        "o",
        F.col("_ver").cast("long").alias("version"),
        F.unix_timestamp("_from").cast("bigint").alias("valid_from_epoch"),
        F.unix_timestamp("_to").cast("bigint").alias("valid_to_epoch"),
        "n_assertions",
    )


# The snapshot instant: mid-1995, inside the registry's assertion window
# (facts before 1996), so the snapshot mixes closed and still-open
# versions.
ASOF_EPOCH = 804556800  # 1995-07-01 00:00:00 UTC


def asof_snapshot(intervals: DataFrame) -> DataFrame:
    """Time-travel query over :func:`fact_intervals` output: the graph
    AS OF ``ASOF_EPOCH`` — the version whose interval covers the instant
    (valid_from ≤ t < valid_to, open current intervals included). A pure
    row-local filter over the materialized interval table: snapshot
    reconstruction costs a scan, never a re-fusion of the assertion
    log — the point of storing intervals. Returns one (s, r, o) per key
    valid at t, plus how long the fact had been valid by then."""
    t = F.lit(ASOF_EPOCH).cast("bigint")
    return intervals.filter(
        (F.col("valid_from_epoch") <= t)
        & (F.col("valid_to_epoch").isNull() | (F.col("valid_to_epoch") > t))
    ).select(
        "s",
        "r",
        "o",
        (t - F.col("valid_from_epoch")).cast("bigint").alias("valid_for_s"),
    )
