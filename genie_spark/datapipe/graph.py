"""Graph operators over the constructed knowledge graph.

The KG a GenIE run builds is a directed edge list and an (s, r, o) fact
table. This module holds the Spark operators that run over them:

* structure: connected components (also the duplicate clustering of
  near-dup candidate pairs), label propagation, k-core, triangle count,
  local clustering, degree;
* ranking and paths: PageRank, personalized PageRank, HITS, k-hop,
  Bellman-Ford, transitive closure and its incremental maintenance,
  deterministic random walks;
* completion and quality: common neighbours, resource allocation,
  negative sampling, TransE energies and link-prediction ranks, rule
  mining and rule-based inference, relation profiles, constraint
  checks, entity summaries, basic-graph-pattern matching.

Ranks, scores and ratios are integer fixed-point with floor division,
so results do not depend on partitioning and the DuckDB twins
(``*_sql_chain``, ``closure_sql``) and the registry oracles reproduce
them exactly.

Lineage policy. :func:`_iterate` is the one loop that steps and cuts a
state frame. A lazily unrolled loop whose step references the previous
state k times grows its plan as k^i between cuts, so a fixed-count loop
is cut with ``localCheckpoint(eager=False)``. Each cut costs ~0.8 s of
driver-side RDD translation whatever the data size, so operators whose
step references the state two to five times (PageRank, k-core,
Bellman-Ford) cut every second step, where 4 to 25 references between
cuts are still cheap; label propagation and HITS cut every step. The
last step is always cut, so callers get a bounded plan. A loop that runs
to convergence (connected components and the two semi-naive closures)
names a boolean Column over its state that marks what a step changed.
Every step is then cut EAGERLY on a frame that observes the count of
changed rows (``DataFrame.observe``), so the cut's own job reports
convergence and no probe job runs; the loop ends after the first step
that changes nothing. The closures flag their last round's additions
``_new`` and grow only those, which keeps them semi-naive. An input a
loop re-joins every step, such as its edge set, is checkpointed EAGERLY
once: under AQE a lazy checkpoint re-materializes its subtree at every
cut of a plan that uses it (pagerank_fixed at sf0.1 went from 20.7 s to
8.4 s with the eager edge cut). Random walks and :func:`k_hop` unroll
instead, because every step's frame is part of their output: stepping
one accumulated frame would re-materialize every earlier step each
round. On a real cluster a reliable ``checkpoint`` directory is the
safer cut, because localCheckpoint blocks die with their executor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F


def _iterate(state: DataFrame, step, n: int, every: int,
             changed: Column | None = None) -> tuple[DataFrame, int | None]:
    """At most ``n`` applications of ``step`` to ``state`` (the lineage
    policy is in the module docstring). Without ``changed`` the lineage
    is cut lazily after every ``every``-th step and after the last one.
    With ``changed``, a boolean Column over the stepped state, every step
    is cut eagerly, its cut's job counts the rows where ``changed`` holds,
    and the loop ends after the first step that counts none. Returns the
    state and the last count (None when nothing was counted)."""
    left = None
    for i in range(1, n + 1):
        state = step(state)
        if changed is not None:
            counted = Observation()
            state = state.observe(counted, F.count_if(changed).alias("n"))
            state = state.localCheckpoint(eager=True)
            if (left := counted.get["n"]) == 0:
                break
        elif i % every == 0 or i == n:
            state = state.localCheckpoint(eager=False)
    return state, left


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """``(a, b)`` with ``a < b``: the distinct undirected edges of a
    directed edge list, self-loops dropped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _undirected_degree(und: DataFrame) -> DataFrame:
    """``(v, deg)`` over an :func:`_undirected` edge set."""
    return (
        und.select(F.col("a").alias("v"))
        .union(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )


def _vertices(e: DataFrame) -> DataFrame:
    """``(v)``: the distinct endpoints of a ``(src, dst)`` edge frame,
    lazily checkpointed (it is re-joined every iteration)."""
    return (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )


def pagerank_sql_chain(
    edges_cte: str = "e",
    iterations: int = 5,
    scale: int = 10**12,
) -> str:
    """DuckDB twin of :func:`pagerank_fixed`: the same integer
    fixed-point recurrence unrolled as one CTE chain per iteration.
    ``edges_cte`` must be a CTE already in scope with DISTINCT
    ``(src, dst)`` rows. Emits CTEs ``verts/nn/outd/pr0..pr{k}``; the
    caller selects from ``pr{iterations}``. Every divide is DuckDB
    ``//`` (floor) on BIGINT — bit-identical to Spark's ``div`` for the
    non-negative operands used here; sums are cast back from HUGEINT."""
    tele = f"((15::BIGINT * {scale}) // (100 * (SELECT n FROM nn)))"
    parts = [
        f"verts AS (SELECT src AS v FROM {edges_cte} UNION SELECT dst FROM {edges_cte})",
        "nn AS (SELECT count(*)::BIGINT AS n FROM verts)",
        f"outd AS (SELECT src AS v, count(*)::BIGINT AS od FROM {edges_cte} GROUP BY src)",
        f"pr0 AS (SELECT v, ({scale}::BIGINT // (SELECT n FROM nn)) AS r FROM verts)",
    ]
    for i in range(1, iterations + 1):
        p = f"pr{i - 1}"
        parts.append(
            f"""inf{i} AS (
  SELECT {edges_cte}.dst AS v, sum(p.r // o.od)::BIGINT AS s
  FROM {edges_cte} JOIN {p} p ON p.v = {edges_cte}.src
  JOIN outd o ON o.v = {edges_cte}.src GROUP BY {edges_cte}.dst)"""
        )
        parts.append(
            f"""dang{i} AS (
  SELECT coalesce(sum(p.r), 0)::BIGINT AS d
  FROM {p} p LEFT JOIN outd o ON o.v = p.v WHERE o.v IS NULL)"""
        )
        parts.append(
            f"""pr{i} AS (
  SELECT v.v, ({tele}
    + (85::BIGINT * (coalesce(i{i}.s, 0)
       + ((SELECT d FROM dang{i}) // (SELECT n FROM nn)))) // 100) AS r
  FROM verts v LEFT JOIN inf{i} i{i} ON i{i}.v = v.v)"""
        )
    return ",\n".join(parts)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """Components of the undirected graph given as an edge list.

    Returns ``(id, component)`` for every vertex that appears in an
    edge, where ``component`` is the MINIMUM vertex id reachable from
    ``id`` — a deterministic, engine-independent canonical label (the
    DuckDB twin computes the same min over a recursive closure).
    Vertices absent from the edge list are their own singleton
    components; callers add them back with a left join + coalesce (see
    ``components_with_singletons``).

    Near-dup candidate generators (MinHash-LSH, SimHash, embedding-LSH —
    datapipe/dedup.py) emit an edge list of pairs, and keeping one
    document per *pair* under-deletes: if A~B and B~C but A!~C,
    pairwise keep-min retains both A and C. Web dedup (the CCNet /
    RefinedWeb / SlimPajama lineage) therefore keeps one representative
    per component.

    The operator is min-label propagation with pointer jumping, the
    standard Spark formulation of the MapReduce CC algorithms (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14):
    every vertex starts labeled with itself; each round a vertex takes
    the min label over itself + its neighbors (one shuffle keyed on
    vertex), then labels are pointer-jumped (``lbl := lbl(lbl)``, one
    shuffle keyed on label) — the jump turns O(diameter) rounds into
    O(log n); it stops when a round changes nothing. Each round is two
    shuffles over the sparse edge list and one :func:`_iterate` cut,
    whose own job counts the moved labels — the loop structure of
    GraphFrames' connectedComponents."""
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("w"))
    sym = sym.union(sym.select(F.col("w").alias("u"), F.col("u").alias("w")))
    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
    )
    sym = sym.localCheckpoint(eager=False)

    def step(labels):
        # neighbor-min: aggregate each vertex's neighbors' labels, then
        # join back so the TRUE previous label (old_lbl) rides along —
        # the convergence count needs it, and this shape has the same
        # shuffle count as the union+groupBy formulation.
        nbr_min = (
            sym.join(labels.withColumnRenamed("id", "w"), "w")
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        stepped = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl"),
            F.col("lbl").alias("old_lbl"),
        )
        # pointer jump: lbl := lbl(lbl). Labels are vertex ids, so the
        # label's own label exists whenever lbl != id; min() keeps the
        # jump monotone.
        jump = stepped.select(
            F.col("id").alias("lbl"), F.col("lbl").alias("lbl2")
        )
        return stepped.join(jump, "lbl", "left").select(
            "id",
            F.least(F.col("lbl"), F.coalesce("lbl2", "lbl")).alias("lbl"),
            "old_lbl",
        )

    # converged = NO label moved in a round (labels only decrease, so
    # post-jump lbl == old_lbl iff both the neighbor step and the jump
    # were no-ops)
    labels, moved = _iterate(labels, step, max_rounds, every=1,
                             changed=F.col("lbl") != F.col("old_lbl"))
    if moved != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    return labels.select("id", F.col("lbl").alias("component"))


def components_with_singletons(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str,
) -> DataFrame:
    """Every vertex gets a component: edge-connected vertices share
    their min-reachable id, untouched vertices are their own singleton.
    One broadcast-sized join when the component table is small relative
    to the corpus (near-dup graphs); Catalyst/AQE picks the strategy."""
    comp = connected_components(edges)
    return (
        vertices.join(
            comp.withColumnRenamed("id", id_col), id_col, "left"
        )
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )


def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-entity in/out/total degree over a DISTINCT directed edge list.

    Two partial-aggregatable groupBys + one full outer join — the whole
    plan is map-side-combinable, so at 100 TB the shuffle carries one
    row per (vertex, side), not per edge."""
    o = edges.groupBy(F.col("src").alias("entity")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    i = edges.groupBy(F.col("dst").alias("entity")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        o.join(i, "entity", "full")
        .select(
            "entity",
            F.coalesce("out_deg", F.lit(0)).cast("bigint").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("bigint").alias("in_deg"),
            (F.coalesce("out_deg", F.lit(0)) + F.coalesce("in_deg", F.lit(0)))
            .cast("bigint")
            .alias("degree"),
        )
    )


def pagerank_fixed(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-iteration PageRank in INTEGER fixed-point arithmetic.

    Float PageRank is engine-divergent: double addition is
    non-associative, so Spark's partition-ordered sums and DuckDB's
    scan-ordered sums can disagree in the low decimals. All mass here
    is integer (``scale`` units split across N vertices), every divide
    is floor division, and integer sums are exact and associative — the
    same cross-engine determinism discipline as
    ``sampling.split_thresholds`` (integer ppm). Per iteration::

        r'(v) = ((den-num)*scale) // (den*N)
                + (num * (inflow(v) + dangling_sum // N)) // den
        inflow(v) = sum over in-edges (u,v) of r(u) // out_deg(u)

    Dangling mass (vertices with no out-edges) redistributes uniformly.
    Returns ``(entity, rank_fp)`` with rank_fp in units of 1/scale.

    Scale notes (100 TB): each iteration is the canonical two-shuffle
    PR step — edges⋈ranks on src (the big join; ranks are
    vertex-sized), then a partial-aggregated groupBy on dst. The
    dangling total stays a 1-row lazy aggregate cross-joined in (no
    driver collect). The loop is :func:`_rank_with_restart`, shared
    with :func:`personalized_pagerank_fixed`."""
    e = edges.select(
        "src", "dst"
    ).localCheckpoint(eager=True)
    verts = _vertices(e)
    return _rank_with_restart(
        e, verts.select("v", F.lit(1).alias("_is")), verts.count(),
        iterations, scale,
    )


def _rank_with_restart(
    e: DataFrame,
    flagged: DataFrame,
    n_tele: int,
    iterations: int,
    scale: int,
) -> DataFrame:
    """The integer PageRank recurrence shared by :func:`pagerank_fixed`
    and :func:`personalized_pagerank_fixed`. ``e`` is the checkpointed
    ``(src, dst)`` edge frame; ``flagged`` is ``(v, _is)`` for every
    vertex, with ``_is`` = 1 on the ``n_tele`` teleport targets and 0
    elsewhere. Plain PageRank is the case where every vertex is a
    target: ``_is`` = 1 and ``n_tele`` = |V| reduce the PPR recurrence
    to the PageRank one term for term."""
    outd = e.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("od")
    ).localCheckpoint(eager=False)
    tele = (15 * scale) // (100 * n_tele)
    pr = flagged.select(
        "v",
        (F.col("_is") * F.lit(scale // n_tele)).cast("long").alias("r"),
    )

    def step(pr):
        contrib = (
            e.join(pr.withColumnRenamed("v", "src"), "src")
            .join(outd.withColumnRenamed("v", "src"), "src")
            .select(F.col("dst").alias("v"), F.expr("r div od").alias("c"))
        )
        inflow = contrib.groupBy("v").agg(F.sum("c").cast("long").alias("s"))
        dang = (
            pr.join(outd, "v", "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("d"))
        )
        return (
            flagged.join(inflow, "v", "left")
            .crossJoin(dang)
            .select(
                "v",
                "_is",
                (
                    F.col("_is").cast("long") * F.lit(tele).cast("long")
                    + F.expr(
                        f"(85L * (coalesce(s, 0L)"
                        f" + (_is * (d div {n_tele}L))))"
                        " div 100L"
                    )
                ).alias("r"),
            )
        )

    pr, _ = _iterate(pr, step, iterations, every=2)
    return pr.select(F.col("v").alias("entity"), F.col("r").alias("rank_fp"))


def k_hop(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """Entities within two directed hops of the seed set, each labeled
    with its MINIMUM hop distance. Frontier-expansion BFS: hop i+1 is
    one join of the hop-i frontier against the edge list; the final
    min-hop groupBy dedupes multi-path reachability. The lazy unroll is
    linear in the hop count (each frontier feeds only the next), so no
    lineage cuts are needed."""
    frontier = seeds.select("v").distinct()
    out = frontier.select("v", F.lit(0).alias("hop"))
    for hop in (1, 2):
        frontier = (
            edges.join(frontier.withColumnRenamed("v", "src"), "src")
            .select(F.col("dst").alias("v"))
            .distinct()
        )
        out = out.union(frontier.select("v", F.lit(hop).alias("hop")))
    return out.groupBy(F.col("v").alias("entity")).agg(
        F.min("hop").alias("min_hop")
    )


def _triangles(edges: DataFrame, src: str, dst: str):
    """``(deg, closed)`` of the UNDIRECTED graph: the degree table
    ``(v, deg)`` and every triangle exactly once as ``(u, x, y)``.

    Degree-ordered orientation (the scalable formulation): every
    undirected edge is directed from its lower-(degree, id) endpoint to
    the higher one, which bounds oriented out-degree by O(sqrt(m)) and
    keeps the wedge join sub-quadratic on skewed (power-law) graphs —
    the naive id-ordered wedge join explodes on the head vertex. Each
    triangle is found exactly once: it has a unique lowest-(deg,id)
    apex ``u`` whose two oriented out-edges form the wedge ``(x, y)``,
    closed by the (id-normalized) undirected edge between x and y."""
    und = _undirected(edges, src, dst).localCheckpoint(eager=False)
    deg = _undirected_degree(und)
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(da, "a").join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        )
    )
    o1 = oriented.select("u", F.col("w").alias("x"))
    o2 = oriented.select("u", F.col("w").alias("y"))
    wedges = o1.join(o2, "u").filter(F.col("x") < F.col("y"))
    closed = wedges.join(
        und, (F.col("x") == F.col("a")) & (F.col("y") == F.col("b"))
    )
    return deg, closed.select("u", "x", "y")


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count of the UNDIRECTED graph, one row
    ``(n_triangles)``, over the degree-ordered wedge join of
    :func:`_triangles`."""
    _, closed = _triangles(edges, src, dst)
    return closed.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


def component_dedup(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str,
) -> DataFrame:
    """Keep exactly ONE vertex per duplicate component — the minimum id,
    which by construction equals the component label, so survivorship is
    the filter ``id == component``: no extra shuffle beyond the
    component computation itself."""
    tagged = components_with_singletons(vertices, edges, id_col)
    return tagged.filter(F.col(id_col) == F.col("component")).select(id_col)


def common_neighbors_bipartite(edges: DataFrame) -> DataFrame:
    """Bipartite common-neighbor features: pairs of ``order_`` vertices
    sharing at least two distinct ``part`` neighbors, with
    the common-neighbor count and integer-ppm Jaccard ``(common*scale) //
    (deg_a + deg_b - common)`` — the classic candidate generator for
    entity-alias / missing-edge proposals over a constructed KG.

    Scale shape: candidate pairs come from the wedge self-join keyed on
    the shared center, so cost is the sum over centers of degree²; the
    true member degrees attach after the pair count."""
    adj = edges.select(
        F.col("part").alias("u"), F.col("order_").alias("v")
    ).distinct()
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    n1 = adj.select("u", F.col("v").alias("x"))
    n2 = adj.select("u", F.col("v").alias("y"))
    pairs = (
        n1.join(n2, "u")
        .filter(F.col("x") < F.col("y"))
        .groupBy(F.col("x").alias("id_a"), F.col("y").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .filter(F.col("common") >= 2)
    )
    da = deg.select(F.col("v").alias("id_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("id_b"), F.col("deg").alias("deg_b"))
    return (
        pairs.join(da, "id_a").join(db, "id_b")
        .select(
            "id_a", "id_b", "common",
            F.expr(
                "(common * 1000000L) div (deg_a + deg_b - common)"
            ).alias("jaccard_ppm"),
        )
    )


def negative_samples(triples: DataFrame, k: int = 3) -> DataFrame:
    """Filtered negative sampling for KG-embedding training (the
    corruption scheme of TransE, Bordes et al. 2013, in the 'filtered'
    setting of Sun et al. 2019): each positive (s, r, o) yields up to
    ``k`` corrupted triples with the object replaced by a
    deterministically hash-drawn entity, then accidental positives and
    self-corruptions are removed.

    Draw j of a positive replaces the object with
    ``entities[h60(j \\x01 s \\x02 r \\x02 o) mod N]`` where entities is
    the distinct object universe indexed by rank — no RNG, so the
    sample is rerun- and partition-stable (the split_thresholds
    discipline). Returns ``(s, r, o_neg, j)``.

    Scale shape (100 TB of triples): the entity universe is
    dimension-sized — its rank index is a single-partition window on the
    dim table only, then broadcast to the fact side (never a window over
    facts); the filter anti-join shuffles on the corrupted key like any
    dedup. k multiplies the fact stream row-locally via explode."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    from .hashes import h60

    pos = triples.select("s", "r", "o").distinct()
    ents = pos.select(F.col("o").alias("e")).distinct()
    idx_ents = ents.select(
        "e", (F.row_number().over(Window.orderBy("e")) - 1).cast("long").alias("_idx")
    )
    n_row = ents.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    key = F.concat_ws("\x02", F.col("s").cast("string"), F.col("r"),
                      F.col("o").cast("string"))
    cand = (
        pos.crossJoin(broadcast(n_row))
        .select("s", "r", "o", "_n",
                F.explode(F.expr(f"sequence(1L, {int(k)}L)")).alias("j"))
        .withColumn(
            "_idx",
            F.pmod(h60(F.concat(F.col("j").cast("string"), F.lit("\x01"), key)),
                   F.col("_n")),
        )
        .join(broadcast(idx_ents), "_idx")
        .filter(F.col("e") != F.col("o"))
    )
    cand = cand.select(
        "s", "r", F.col("e").alias("o_neg"), F.col("j").cast("long").alias("j")
    )
    # filtered setting: a corrupted triple that happens to be a true
    # positive is removed, not emitted as a (false) negative
    cond = (
        (cand["s"] == pos["s"]) & (cand["r"] == pos["r"])
        & (cand["o_neg"] == pos["o"])
    )
    return cand.join(pos, cond, "left_anti")


def relation_profile(triples: DataFrame) -> DataFrame:
    """Ontology-grade relation statistics: per relation, the triple /
    subject / object counts plus functionality and inverse-functionality
    in integer ppm (fun(r) = #subjects / #triples — the quantity AMIE's
    PCA confidence is built on, Galárraga et al. 2013). A relation with
    functionality ≈ 1e6 is one-to-one from its subjects; low values mark
    fan-out relations that need skew handling downstream.

    One partial-aggregatable groupBy over the fact table (the two
    count(DISTINCT) phases expand but stay keyed on r); integer ppm via
    the split_thresholds discipline — no float division."""
    return (
        triples.groupBy("r")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_triples"),
            F.countDistinct(F.col("s")).cast("long").alias("n_subjects"),
            F.countDistinct(F.col("o")).cast("long").alias("n_objects"),
        )
        .select(
            "r", "n_triples", "n_subjects", "n_objects",
            F.expr("n_subjects * 1000000L div n_triples").alias("functionality_ppm"),
            F.expr("n_objects * 1000000L div n_triples").alias("inv_functionality_ppm"),
        )
    )


def rule_confidence(triples: DataFrame) -> DataFrame:
    """1-hop Horn-rule mining: for every ordered relation pair the
    standard confidence of ``r_body(x, y) => r_head(x, y)`` —
    support = #(x, y) pairs asserted under BOTH relations,
    confidence = support / #pairs under the body (integer ppm). The
    degenerate r_body = r_head rule is excluded. AMIE's 2-hop chain
    rules build on the same join; the 1-hop form is the
    schema-alignment / redundant-relation detector.

    Scale shape: facts dedup to distinct (s, o, r) pairs, self-join on
    the (s, o) pair key — per-key fan-out is the number of relations
    asserted between that entity pair (tiny in real KGs), so the join
    output is ~|facts| × avg-multiplicity, never quadratic in entities;
    the groupBy (body, head) output is |relations|² at most."""
    pairs = triples.select(
        "s", "o", "r"
    ).distinct()
    body_n = pairs.groupBy(F.col("r").alias("r_body")).agg(
        F.count(F.lit(1)).cast("long").alias("n_body")
    )
    a = pairs.select("s", "o", F.col("r").alias("r_body"))
    b = pairs.select("s", "o", F.col("r").alias("r_head"))
    support = (
        a.join(b, ["s", "o"])
        .filter(F.col("r_body") != F.col("r_head"))
        .groupBy("r_body", "r_head")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    return (
        support.join(F.broadcast(body_n), "r_body")
        .select(
            "r_body", "r_head", "support", "n_body",
            F.expr("support * 1000000L div n_body").alias("confidence_ppm"),
        )
    )


def _emb_arr(kind: str, name, dim: int, mod: int):
    """array<long> exact-integer hash embedding of the Column ``name``:
    element d is ``h60(kind \\x01 name \\x01 d) % mod``, d = 0..dim-1.
    ``kind`` salts entities ("e") and relations ("r") apart."""
    from .hashes import h60

    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: h60(
            F.concat(
                F.lit(kind + "\x01"),
                name.cast("string"),
                F.lit("\x01"),
                d.cast("string"),
            )
        )
        % mod,
    )


def _l1(e):
    """TransE L1 energy ``sum_d |_sr[d] - e[d]|`` of the ``_sr`` column
    (the per-dim s + r sum) and the embedding array ``e``, folded in dim
    order."""
    return F.aggregate(
        F.zip_with(F.col("_sr"), e, lambda a, b: F.abs(a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# The corrupted-object space of :func:`transe_energy`.
TRANSE_NEG_MOD = 100_000


def transe_energy(
    triples: DataFrame,
    dim: int = 8,
    mod: int = 1000,
) -> DataFrame:
    """TransE energy scoring (Bordes et al. 2013) over deterministic
    hash-embeddings, with a per-triple corrupted-object margin — the
    KG-embedding training/eval primitive downstream of
    :func:`negative_samples`. Embeddings are exact-integer so the
    DuckDB oracle reproduces every value bit-for-bit:

        e[name][d] = h60(kind \\x01 name \\x01 d) % mod   (d = 0..dim-1)
        energy(s, r, o) = sum_d |e_s[d] + e_r[d] - e_o[d]|   (L1)

    (entities and relations hash in disjoint kind-salted spaces). The
    corrupted object is o' = 'neg_' || (h60(s,r,o) % TRANSE_NEG_MOD) — the
    filtered-sampling refinement lives in :func:`negative_samples`;
    here the point is the scoring shape. margin = energy(o') -
    energy(o): a real embedding model trains to push it positive.

    Scale shape (100 TB of triples): everything is a row-local Column
    expression over a sequence literal — zero shuffle, zero UDF, full
    whole-stage codegen; dim*3 md5 calls per row is the entire cost.
    Real float embeddings swap the hash for an `array<float>` lookup
    join; the energy expression is unchanged."""
    from .hashes import h60

    s, r, o = F.col("s"), F.col("r"), F.col("o")
    o_neg = F.concat(
        F.lit("neg_"),
        (
            h60(
                F.concat(
                    s.cast("string"), F.lit("\x01"),
                    r.cast("string"), F.lit("\x01"),
                    o.cast("string"),
                )
            )
            % TRANSE_NEG_MOD
        ).cast("string"),
    )

    # Staged projections hash each slot ONCE per row. Inlining one energy
    # expression three times (energy, energy_neg, margin) would re-evaluate
    # every md5 inside interpreted HOFs (no CSE): ~12·dim md5/row vs
    # 4·dim+1 here — same values, ~3× fewer md5s.
    # _sr is multi-referenced and non-cheap, so CollapseProject keeps the
    # barrier projections intact (same idiom as link_prediction_ranks).
    staged = triples.select(
        s.alias("s"), r.alias("r"), o.alias("o"),
        F.zip_with(
            _emb_arr("e", s, dim, mod), _emb_arr("r", r, dim, mod),
            lambda a, b: a + b,
        ).alias("_sr"),
        _emb_arr("e", o, dim, mod).alias("_oe"),
        _emb_arr("e", o_neg, dim, mod).alias("_ne"),
    ).select(
        "s", "r", "o",
        _l1(F.col("_oe")).cast("long").alias("energy"),
        _l1(F.col("_ne")).cast("long").alias("energy_neg"),
    )
    return staged.select(
        "s", "r", "o", "energy", "energy_neg",
        (F.col("energy_neg") - F.col("energy")).cast("long").alias("margin"),
    )


def link_prediction_ranks(
    triples: DataFrame,
    dim: int = 8,
    mod: int = 1000,
    test_mod: int = 200,
) -> DataFrame:
    """Filtered link-prediction ranking (the Bordes et al. 2013 eval
    protocol in the 'filtered' setting of Sun et al. 2019): for each
    test triple (s, r, o), the rank of the true object among ALL
    candidate objects e, ordered by (energy(s, r, e), e) ascending —
    the entity-id tiebreak makes the rank deterministic, so the DuckDB
    oracle reproduces it exactly. Known positives (s, r, e) ∈ KG with
    e ≠ o do not count against the truth (filtered).

    The test cut is hash-drawn (h60(s,r,o) % test_mod == 0 —
    rerun/partition-stable, the split_thresholds discipline); real
    protocols likewise rank a held-out split, never the full fact set.

    Scale shape (100 TB of facts): the candidate universe is the
    distinct object slot — dimension-sized, BROADCAST to the test
    rows; energies are row-local Column math, and the beat-count
    groupBy partial-aggregates map-side, so the shuffle carries one
    row per test triple per task, never the |test|×|E| candidate set.
    The filtered correction NEVER anti-joins the candidate product:
    it joins test to the fact table on (s, r) — fan-out is the
    per-pair object multiplicity — and subtracts the known positives
    that beat the truth. Two fact-bounded shuffles total."""
    from pyspark.sql.functions import broadcast

    from .hashes import h60

    pos = triples.select(
        F.col("s").cast("string").alias("s"),
        F.col("r").cast("string").alias("r"),
        F.col("o").cast("string").alias("o"),
    ).distinct()
    tkey = F.concat_ws("\x01", F.col("s"), F.col("r"), F.col("o"))
    # _sr = per-dim (s_emb + r_emb) and _e_true from it: one md5 sweep per
    # test row, in dedicated projections so CollapseProject cannot
    # re-inline the hash transform into the |test| x |E| inner loop --
    # the md5 count is O((|E| + |test|) * dim), not O(|test| * |E| * dim)
    # (288s -> seconds at sf0.1; energies equal transe_energy's and the
    # DuckDB oracle's _transe_energy_sql)
    # The test×candidates broadcast product below is COMPUTE-bound
    # (dim interpreted abs/add ops per candidate), so its partition count
    # must track cores, not bytes: AQE coalesces the byte-light distinct
    # output to 1-2 partitions and would serialize the whole product on
    # one core (measured 12s -> <2s at sf0.1). defaultParallelism is the
    # cluster core count in both local and cluster mode; test rows are
    # |facts|/test_mod, so the extra exchange carries a sliver.
    spread = triples.sparkSession.sparkContext.defaultParallelism
    test = (
        pos.filter(h60(tkey) % test_mod == 0)
        .repartition(spread)
        .select(
            "s", "r", "o",
            F.zip_with(
                _emb_arr("e", F.col("s"), dim, mod),
                _emb_arr("r", F.col("r"), dim, mod),
                lambda a, b: a + b,
            ).alias("_sr"),
            _emb_arr("e", F.col("o"), dim, mod).alias("_oe"),
        )
        .select(
            "s", "r", "o", "_sr",
            _l1(F.col("_oe")).cast("long").alias("_e_true"),
        )
    )
    ents = (
        pos.select(F.col("o").alias("e"))
        .distinct()
        .select("e", _emb_arr("e", F.col("e"), dim, mod).alias("_ce"))
    )

    def beats(e_cand, obj_col):
        hit = (e_cand < F.col("_e_true")) | (
            (e_cand == F.col("_e_true")) & (obj_col < F.col("o"))
        )
        return F.when(hit, F.lit(1)).otherwise(F.lit(0)).cast("long")

    n_all = (
        test.crossJoin(broadcast(ents))
        .filter(F.col("e") != F.col("o"))
        .select(
            "s", "r", "o", "e", "_e_true",
            _l1(F.col("_ce")).cast("long").alias("_ec"),
        )
        .groupBy("s", "r", "o")
        .agg(F.sum(beats(F.col("_ec"), F.col("e"))).alias("_n_all"))
    )
    known = (
        test.join(
            pos.select("s", "r", F.col("o").alias("_o_known")), ["s", "r"]
        )
        .filter(F.col("_o_known") != F.col("o"))
        .select(
            "s", "r", "o", "_o_known", "_e_true",
            _l1(_emb_arr("e", F.col("_o_known"), dim, mod))
            .cast("long").alias("_ec"),
        )
        .groupBy("s", "r", "o")
        .agg(F.sum(beats(F.col("_ec"), F.col("_o_known"))).alias("_n_known"))
    )
    return (
        test.select("s", "r", "o")
        .join(n_all, ["s", "r", "o"], "left")
        .join(known, ["s", "r", "o"], "left")
        .select(
            "s", "r", "o",
            (
                F.lit(1).cast("long")
                + F.coalesce(F.col("_n_all"), F.lit(0))
                - F.coalesce(F.col("_n_known"), F.lit(0))
            ).cast("long").alias("rank"),
        )
    )


def link_prediction(
    triples: DataFrame,
    dim: int = 8,
    mod: int = 1000,
    test_mod: int = 200,
) -> DataFrame:
    """Per-relation link-prediction metrics over
    :func:`link_prediction_ranks`: test count, MRR and Hits@k in
    integer ppm (floor arithmetic — engine-exact), and the raw rank
    sum. One partial-aggregatable groupBy on relation."""
    ranks = link_prediction_ranks(
        triples, dim=dim, mod=mod, test_mod=test_mod,
    )
    hits = [
        F.expr(f"(1000000L * sum(if(rank <= {k}, 1L, 0L))) div count(1)")
        .cast("long")
        .alias(f"hits{k}_ppm")
        for k in (1, 3, 10)
    ]
    return ranks.groupBy("r").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.expr("sum(1000000L div rank) div count(1)")
        .cast("long")
        .alias("mrr_ppm"),
        *hits,
        F.sum("rank").cast("long").alias("sum_rank"),
    )


def chain_rule_confidence(
    triples: DataFrame,
    min_support: int = 1,
) -> DataFrame:
    """2-hop Horn-rule (chain-rule) mining — the AMIE shape proper:
    for relation triples (r1, r2, r_head) the CWA confidence of

        r1(x, z) AND r2(z, y)  =>  r_head(x, y)

    support = #distinct (x, y) pairs where both the body path and the
    head fact hold; n_body = #distinct (x, y) pairs connected by the
    body path; confidence = support / n_body in integer ppm. The 1-hop
    special case lives in :func:`rule_confidence`.

    Scale shape (100 TB of facts): facts dedup once; the body join is
    keyed on the shared variable z — per-key fan-out is deg_in(z) x
    deg_out(z), the classic AMIE hub-skew point (salt z or cap hub
    degrees for web-scale KGs; real miners also prune by head
    functionality first). The path set dedups to distinct
    (x, y, r1, r2) before the head join, so the head join moves paths,
    not path multiplicities; both groupBys partial-aggregate."""
    facts = triples.select(
        "s", "r", "o"
    ).distinct()
    hop1 = facts.select(
        F.col("s").alias("x"), F.col("o").alias("z"), F.col("r").alias("r1")
    )
    hop2 = facts.select(
        F.col("s").alias("z"), F.col("o").alias("y"), F.col("r").alias("r2")
    )
    paths = hop1.join(hop2, "z").select("x", "y", "r1", "r2").distinct()
    body_n = paths.groupBy("r1", "r2").agg(
        F.count(F.lit(1)).cast("long").alias("n_body")
    )
    heads = facts.select(
        F.col("s").alias("x"), F.col("o").alias("y"), F.col("r").alias("r_head")
    )
    support = (
        paths.join(heads, ["x", "y"])
        .groupBy("r1", "r2", "r_head")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    return support.join(F.broadcast(body_n), ["r1", "r2"]).select(
        "r1", "r2", "r_head", "support", "n_body",
        F.expr("support * 1000000L div n_body").alias("confidence_ppm"),
    )


def constraint_violations(triples: DataFrame, functional_rels) -> DataFrame:
    """Property-constraint checking, the KG-quality gate of
    Wikidata-style schemas: for relations DECLARED functional
    (single-value constraint), every subject holding more than one
    distinct object is a violation — returned with its object count and
    the min/max offending objects (deterministic, oracle-exact). The
    declared-list form mirrors how real KBs express constraints; the
    data-derived near-functional cut lives in :func:`relation_profile`.

    Scale shape (100 TB of facts): the relation-literal filter pushes
    to the scan (constrained relations are a tiny slice of a Zipfian
    relation distribution), then ONE partial-aggregatable groupBy on
    (s, r); output is violation-sized."""
    rels = sorted(set(functional_rels))
    if not rels:
        raise ValueError("functional_rels must be non-empty")
    s, r, o = F.col("s"), F.col("r"), F.col("o")
    return (
        triples.filter(r.isin(rels))
        .groupBy(s.alias("s"), r.alias("r"))
        .agg(
            F.countDistinct(o).cast("long").alias("n_objects"),
            F.min(o).alias("min_o"),
            F.max(o).alias("max_o"),
        )
        .filter(F.col("n_objects") > 1)
    )


def lpa_sql_chain(edges_cte: str = "e", iterations: int = 3) -> str:
    """DuckDB twin of :func:`label_propagation_fixed`: the same
    synchronous, deterministically tie-broken label-propagation rounds
    unrolled as one CTE pair per iteration. ``edges_cte`` must hold
    DISTINCT directed ``(src, dst)`` rows; the caller selects from
    ``lpa{iterations}``."""
    parts = [
        f"lpa_sym AS (SELECT src AS u, dst AS w FROM {edges_cte}"
        f" UNION SELECT dst, src FROM {edges_cte})",
        "lpa0 AS (SELECT DISTINCT u AS v, u AS lbl FROM lpa_sym)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""lpv{i} AS (
  SELECT s.w AS v, l.lbl, count(*) AS c
  FROM lpa_sym s JOIN lpa{i - 1} l ON l.v = s.u
  GROUP BY s.w, l.lbl)"""
        )
        parts.append(
            f"""lpa{i} AS (
  SELECT v, lbl FROM (
    SELECT v, lbl,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn
    FROM lpv{i}) WHERE rn = 1)"""
        )
    return ",\n".join(parts)


def label_propagation_fixed(
    edges: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) made deterministic and engine-exact: a FIXED iteration
    count and an exact tiebreak (most-frequent neighbor label, ties to
    the LEXICOGRAPHICALLY SMALLEST label) replace the random order and
    random tie-coin of the original — the same determinism discipline
    as pagerank_fixed. Labels start as the vertex's own id; every round
    each vertex adopts the argmax label over its neighbors. Returns
    ``(id, community)`` for every vertex in the edge list.

    Unlike min-label propagation (:func:`connected_components`, which
    converges to one label per connected component), the frequency vote
    stops at community boundaries: a label needs majority support to
    cross, so dense blocks keep their own labels.

    Scale shape (100 TB edge lists): per round ONE join keyed on vertex
    + two partial-aggregatable groupBys — the vote shuffle carries
    (vertex, label, count) partial sums, never the raw neighbor list.
    Synchronous LPA can oscillate on bipartite structures — the
    fixed iteration count bounds that deterministically, as in the
    GraphFrames/Pregel formulation."""
    sym = edges.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    sym = sym.union(
        sym.select(F.col("w").alias("u"), F.col("u").alias("w"))
    ).distinct().localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("u").alias("v")).distinct()
        .withColumn("lbl", F.col("v"))
    )
    key = F.struct(
        (F.lit(0).cast("long") - F.col("c")).alias("nc"),
        F.col("lbl").alias("l"),
    )

    def vote(labels):
        return (
            sym.join(labels.withColumnRenamed("v", "u"), "u")
            .groupBy(F.col("w").alias("v"), "lbl")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .groupBy("v")
            .agg(F.min(key).alias("_w"))
            .select("v", F.col("_w.l").alias("lbl"))
        )

    labels, _ = _iterate(labels, vote, iterations, every=1)
    return labels.select(
        F.col("v").alias("id"), F.col("lbl").alias("community")
    )


def transitive_closure(edges: DataFrame, max_hops: int = 12) -> DataFrame:
    """Reachability closure of the directed graph: every pair
    ``(src, dst, min_hops)`` such that dst is reachable from src, with
    the MINIMUM hop count. Semi-naive datalog evaluation (the textbook
    recursive-query strategy, and what ``WITH RECURSIVE`` engines run
    underneath): each round joins only the PREVIOUS round's delta
    against the edge list and anti-joins pairs already known, so work
    per round is proportional to NEW facts, never the whole closure.
    Terminates when a round discovers nothing (or at ``max_hops``, the
    cycle guard — min_hops is still exact for every emitted pair
    because BFS order discovers each pair at its shortest distance).

    Scale notes (100 TB edge lists): per round ONE join keyed on the
    frontier's dst (delta is the small side once the frontier
    stabilizes — at web-KG diameters the closure converges in < 10
    rounds) + one left-anti join against the accumulated closure, both
    partition-colocatable on the pair key. The state is the pair set
    with the last round's additions flagged ``_new``, stepped by
    :func:`_iterate` until a round flags nothing. Dense closures (the
    output can be quadratic on hub-heavy graphs) are the caller's
    contract: run it on layered / DAG-ish KGs (ontology subsumption,
    containment hierarchies), not on social graphs."""
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
    e2 = e.select(F.col("src").alias("mid"), F.col("dst").alias("nxt"))
    seen = e.select(
        "src", "dst", F.lit(1).cast("int").alias("min_hops"),
        F.lit(True).alias("_new"),
    )

    # a pair first reached this round is one hop longer than the delta
    # pair it extends (BFS order: each pair at its shortest distance)
    def step(seen):
        delta = seen.filter(F.col("_new"))
        new = (
            delta.join(e2, delta.dst == F.col("mid"))
            .select("src", F.col("nxt").alias("dst"),
                    (F.col("min_hops") + 1).alias("min_hops"))
            .distinct()
            .join(seen.select("src", "dst"), ["src", "dst"], "left_anti")
        )
        return seen.withColumn("_new", F.lit(False)).union(
            new.withColumn("_new", F.lit(True)))

    seen, _ = _iterate(seen, step, max_hops - 1, every=1,
                       changed=F.col("_new"))
    return seen.select("src", "dst", "min_hops")


def closure_sql() -> str:
    """DuckDB twin of :func:`transitive_closure` at its default
    ``max_hops=12``: a bounded ``WITH RECURSIVE`` reachability walk
    (UNION ALL + hop guard — the guard terminates cyclic inputs exactly
    like max_hops) followed by
    the min-hop group-by. Returned as the RECURSIVE cte-list fragment;
    the caller prefixes ``WITH RECURSIVE cl_edges(src, dst) AS (...),``
    and selects from ``reach_min``."""
    return """reach AS (
  SELECT src, dst, 1 AS h FROM cl_edges
  UNION ALL
  SELECT r.src, t.dst, r.h + 1
  FROM reach r JOIN cl_edges t ON r.dst = t.src
  WHERE r.h < 12
),
reach_min AS (
  SELECT src, dst, min(h)::INT AS min_hops FROM reach GROUP BY src, dst
)"""


def inverse_rule_confidence(facts: DataFrame) -> DataFrame:
    """AMIE-style inverse-rule mining: for every ordered relation pair,
    the CWA confidence of ``r_body(x, y) => r_head(y, x)`` in integer
    ppm. The diagonal (r_body = r_head) is the SYMMETRY score of a
    relation — 1,000,000 ppm means the relation is perfectly symmetric
    in the KG (the owl:SymmetricProperty / owl:inverseOf discovery pass
    of ontology induction; Galárraga et al., AMIE, WWW'13 §5 mines the
    same rule shape).

    Input: ``(s, r, o)`` fact triples (duplicates tolerated — deduped
    first). Output: ``(r_body, r_head, support, n_body,
    confidence_ppm)``.

    Scale shape: the support join is keyed on the ENTITY PAIR — facts
    are hashed on (s, o) against the reversed copy on (o, s), so
    per-key fan-out is the relation multiplicity of that pair (tiny),
    never entity degree; both aggregates are partial-aggregatable
    groupBys. Integer ppm floor-division keeps it engine-exact
    (sampling.split_thresholds discipline)."""
    fd = facts.select("s", "r", "o").distinct().localCheckpoint(eager=False)
    body = fd.groupBy(F.col("r").alias("r_body")).agg(
        F.count(F.lit(1)).cast("long").alias("n_body")
    )
    rev = fd.select(
        F.col("o").alias("s"), F.col("r").alias("r_head"), F.col("s").alias("o")
    )
    sup = (
        fd.withColumnRenamed("r", "r_body")
        .join(rev, ["s", "o"])
        .groupBy("r_body", "r_head")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    return sup.join(body, "r_body").select(
        "r_body",
        "r_head",
        "support",
        "n_body",
        F.expr("(support * 1000000L) div n_body").cast("long").alias(
            "confidence_ppm"
        ),
    )


def closure_delta(
    old_closure: DataFrame,
    new_edges: DataFrame,
    all_edges: DataFrame,
    max_hops: int = 12,
) -> DataFrame:
    """INCREMENTAL transitive-closure maintenance: the reachability
    pairs that appear when ``new_edges`` arrive, WITHOUT recomputing
    the closure of the whole graph — the daily-crawl-update shape of a
    production KG (semi-naive delta evaluation of the recursive
    reachability view; Gupta/Mumick-style incremental datalog
    maintenance specialised to edge INSERTS, where delta rules suffice
    and no over-deletion pass is needed).

    Every genuinely-new pair contains ≥1 new edge, so the delta seeds
    from the new edges and grows by composing with ALL edges on the
    right (semi-naive: only last round's delta joins), plus one closing
    pass composing the old closure on the LEFT (x reaches a new-edge
    tail through old pairs). Work is proportional to the DELTA — the
    old closure is touched only as a join side, never re-derived.

    Inputs: ``old_closure`` (src, dst [, ...]) — the materialized
    closure of the old graph; ``new_edges`` / ``all_edges`` (src, dst).
    Returns NEW pairs only (src, dst), exactly
    closure(all) − closure(old). Hop counts are NOT emitted: an
    inserted edge can shorten an existing pair's distance without
    creating a new pair — min-hop maintenance needs the
    delete-then-rederive pass that insert-only reachability avoids."""
    old_c = old_closure.select("src", "dst").localCheckpoint(eager=False)
    e_all = all_edges.select(
        F.col("src").alias("mid"), F.col("dst").alias("nxt")
    ).distinct().localCheckpoint(eager=False)

    def not_known(df, known):
        return df.join(known.select("src", "dst"), ["src", "dst"], "left_anti")

    def step(seen):
        # grow right: delta ∘ all_edges
        delta = seen.filter(F.col("_new"))
        grown = (
            delta.join(e_all, delta.dst == F.col("mid"))
            .select("src", F.col("nxt").alias("dst"))
            .distinct()
        )
        new = not_known(not_known(grown, old_c), seen)
        return seen.withColumn("_new", F.lit(False)).union(
            new.withColumn("_new", F.lit(True)))

    # round 0: the new edges themselves (minus already-known pairs)
    seen = not_known(
        new_edges.select("src", "dst").distinct(), old_c
    ).withColumn("_new", F.lit(True))
    seen, _ = _iterate(seen, step, max_hops, every=1, changed=F.col("_new"))
    seen = seen.select("src", "dst")
    # close left: old pairs reaching into any delta pair
    # (x →old u, (u, y) ∈ seen) — one join, then the final dedup
    left = (
        old_c.select(F.col("src").alias("x"), F.col("dst").alias("u"))
        .join(seen.withColumnRenamed("src", "u"), "u")
        .select(F.col("x").alias("src"), "dst")
        .distinct()
    )
    return not_known(seen.union(left).distinct(), old_c)


# The bars a mined chain rule clears before it infers facts: confidence
# in ppm and support in body paths.
RULE_MIN_CONF, RULE_MIN_SUP = 300_000, 5


def rule_based_inference(triples: DataFrame) -> DataFrame:
    """KB COMPLETION by mined rules — the application half of the AMIE
    loop (:func:`chain_rule_confidence` mines; this infers): every
    body path (x →r1 z →r2 y) of a rule that cleared the confidence and
    support bars proposes the head fact (x, r_head, y); facts already
    in the KB anti-join away; each surviving candidate keeps its BEST
    supporting rule (max confidence, ties to lexicographically
    smallest body) as provenance. Returns
    ``(s, r, o, r1, r2, confidence_ppm)`` — new facts with the rule
    that predicted them, the GenIE-style closed-world graph completed
    where the evidence was missing.

    Scale shape: the mined rule table is relation-vocabulary-sized —
    BROADCAST onto the path set; the path join is the same z-keyed
    AMIE join as mining (share/materialize it in a real pipeline); the
    known-fact anti-join and the best-rule groupBy are keyed on the
    candidate fact. Nothing moves at |facts|² anywhere."""
    facts = triples.select(
        "s", "r", "o"
    ).distinct().localCheckpoint(eager=False)
    rules = chain_rule_confidence(facts, min_support=RULE_MIN_SUP).filter(
        F.col("confidence_ppm") >= RULE_MIN_CONF
    )
    hop1 = facts.select(
        F.col("s").alias("x"), F.col("o").alias("z"), F.col("r").alias("r1")
    )
    hop2 = facts.select(
        F.col("s").alias("z"), F.col("o").alias("y"), F.col("r").alias("r2")
    )
    paths = hop1.join(hop2, "z").select("x", "y", "r1", "r2").distinct()
    cand = paths.join(
        F.broadcast(rules.select("r1", "r2", "r_head", "confidence_ppm")),
        ["r1", "r2"],
    )
    new = cand.join(
        facts.select(
            F.col("s").alias("x"), F.col("r").alias("r_head"),
            F.col("o").alias("y"),
        ),
        ["x", "r_head", "y"],
        "left_anti",
    )
    # best rule = max confidence, ties to smallest (r1, r2): one min
    # over the (-confidence, r1, r2) struct
    key = F.struct(
        (F.lit(0).cast("long") - F.col("confidence_ppm")).alias("nc"),
        F.col("r1").alias("a"),
        F.col("r2").alias("b"),
    )
    return (
        new.groupBy("x", "r_head", "y")
        .agg(F.min(key).alias("_k"))
        .select(
            F.col("x").alias("s"),
            F.col("r_head").alias("r"),
            F.col("y").alias("o"),
            F.col("_k.a").alias("r1"),
            F.col("_k.b").alias("r2"),
            (F.lit(0).cast("long") - F.col("_k.nc")).alias("confidence_ppm"),
        )
    )


def personalized_pagerank_fixed(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    scale: int = 10**12,
) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED set) in
    the same INTEGER fixed-point discipline as :func:`pagerank_fixed` —
    the KG relatedness measure entity disambiguation and related-entity
    retrieval run (all teleport and dangling mass returns to the seeds,
    so rank concentrates in the seeds' neighborhood instead of
    spreading globally). Per vertex::

        r'(v) = [v∈S]·((den−num)·scale)//(den·|S|)
                + (num·(inflow(v) + [v∈S]·(dangling//|S|)))//den

    Returns ``(entity, rank_fp)`` for every vertex (zero off the
    reachable neighborhood). Same per-iteration shape as PageRank: one
    edges⋈ranks join + a partial-agg groupBy + a lazy 1-row dangling
    aggregate + a broadcast seed-flag join, in the loop
    :func:`_rank_with_restart` shared with :func:`pagerank_fixed`."""
    e = edges.select(
        "src", "dst"
    ).localCheckpoint(eager=True)
    sd = seeds.select("v").distinct().localCheckpoint(
        eager=False
    )
    flagged = _vertices(e).join(
        F.broadcast(sd.withColumn("_is", F.lit(1))), "v", "left"
    ).select("v", F.coalesce("_is", F.lit(0)).alias("_is"))
    return _rank_with_restart(
        e, flagged, sd.count(), iterations, scale
    )


def ppr_sql_chain(
    edges_cte: str = "e",
    seeds_cte: str = "sds",
    iterations: int = 5,
    scale: int = 10**12,
) -> str:
    """DuckDB twin of :func:`personalized_pagerank_fixed` (unrolled CTE
    chain; caller selects from ``ppr{iterations}``). ``seeds_cte`` must
    hold DISTINCT seed vertices in column ``v``."""
    tele = (
        f"((15::BIGINT * {scale})"
        f" // (100 * (SELECT n FROM pns)))"
    )
    parts = [
        f"verts AS (SELECT src AS v FROM {edges_cte} UNION SELECT dst FROM {edges_cte})",
        f"pns AS (SELECT count(*)::BIGINT AS n FROM {seeds_cte})",
        f"outd AS (SELECT src AS v, count(*)::BIGINT AS od FROM {edges_cte} GROUP BY src)",
        f"""pfl AS (
  SELECT v.v, CASE WHEN s.v IS NULL THEN 0 ELSE 1 END AS isd
  FROM verts v LEFT JOIN {seeds_cte} s ON s.v = v.v)""",
        f"ppr0 AS (SELECT v, (isd * ({scale}::BIGINT // (SELECT n FROM pns)))::BIGINT AS r FROM pfl)",
    ]
    for i in range(1, iterations + 1):
        p = f"ppr{i - 1}"
        parts.append(
            f"""pinf{i} AS (
  SELECT {edges_cte}.dst AS v, sum(p.r // o.od)::BIGINT AS s
  FROM {edges_cte} JOIN {p} p ON p.v = {edges_cte}.src
  JOIN outd o ON o.v = {edges_cte}.src GROUP BY {edges_cte}.dst)"""
        )
        parts.append(
            f"""pdang{i} AS (
  SELECT coalesce(sum(p.r), 0)::BIGINT AS d
  FROM {p} p LEFT JOIN outd o ON o.v = p.v WHERE o.v IS NULL)"""
        )
        parts.append(
            f"""ppr{i} AS (
  SELECT f.v, (f.isd * {tele}
    + (85::BIGINT * (coalesce(i{i}.s, 0)
       + (f.isd * ((SELECT d FROM pdang{i}) // (SELECT n FROM pns)))))
      // 100)::BIGINT AS r
  FROM pfl f LEFT JOIN pinf{i} i{i} ON i{i}.v = f.v)"""
        )
    return ",\n".join(parts)


def hits_fixed(
    edges: DataFrame,
    iterations: int = 3,
    dedup_edges: bool = True,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) in INTEGER fixed-point
    with L1 normalization — the float L2 norm of the original is
    engine-divergent (non-associative sums, sqrt), the integer L1 form
    (x' = x·scale // Σx) is exact and preserves the ranking. Per
    iteration: authorities = normalized in-flow of hub mass, hubs =
    normalized out-flow of authority mass — two edges⋈scores joins +
    two partial-agg groupBys + two lazy 1-row totals; lineage cut per
    iteration. Returns ``(entity, hub_fp, auth_fp)`` in units of
    1/scale. The scale is 1e6 so raw·scale fits signed-64 even at web
    in-degrees (raw ≤ scale·deg)."""
    e = edges.select("src", "dst")
    if dedup_edges:
        # pass dedup_edges=False when the input is already distinct —
        # the defensive dedup is then a full redundant shuffle
        e = e.distinct()
    e = e.localCheckpoint(eager=True)
    verts = _vertices(e)

    def flow(scores, frm, to):
        # L1-normalized mass each vertex receives along the frm -> to edges
        raw = (
            e.join(scores.withColumnRenamed("v", frm), frm)
            .groupBy(F.col(to).alias("v"))
            .agg(F.sum("r").cast("long").alias("s"))
        )
        tot = raw.agg(F.sum("s").cast("long").alias("t"))
        return (
            verts.join(raw, "v", "left")
            .crossJoin(tot)
            .select(
                "v",
                F.when(
                    F.col("s").isNull(), F.lit(0).cast("long")
                ).otherwise(
                    F.expr("(s * 1000000L) div t")
                ).alias("r"),
            )
        )

    # one cut per iteration (on h) bounds the plan; a is cut only once,
    # after the last iteration
    h, _ = _iterate(
        verts.select("v", F.lit(10**6).cast("long").alias("r")),
        lambda h: flow(flow(h, "src", "dst"), "dst", "src"),
        iterations - 1, every=1,
    )
    a = flow(h, "src", "dst").localCheckpoint(eager=False)
    h = flow(a, "dst", "src").localCheckpoint(eager=False)
    return (
        h.withColumnRenamed("r", "hub_fp")
        .join(a.withColumnRenamed("r", "auth_fp"), "v")
        .select(F.col("v").alias("entity"), "hub_fp", "auth_fp")
    )


def hits_sql_chain(edges_cte: str = "e", iterations: int = 3) -> str:
    """DuckDB twin of :func:`hits_fixed` (unrolled CTE chain; caller
    selects entity/hub_fp/auth_fp from ``hsel``)."""
    # every CTE is MATERIALIZED: the a/h frames are each referenced
    # several times per iteration, and DuckDB's default inlining
    # re-evaluates the whole chain multiplicatively (measured 15s at
    # sf0.001 for 3 iterations; materialized: <1s) — the same lesson
    # as kcore_sql_chain
    parts = [
        f"hverts AS MATERIALIZED (SELECT src AS v FROM {edges_cte} UNION SELECT dst FROM {edges_cte})",
        "h0 AS MATERIALIZED (SELECT v, 1000000::BIGINT AS r FROM hverts)",
    ]
    for i in range(1, iterations + 1):
        p = f"h{i - 1}"
        parts.append(
            f"""ar{i} AS MATERIALIZED (
  SELECT {edges_cte}.dst AS v, sum(p.r)::BIGINT AS s
  FROM {edges_cte} JOIN {p} p ON p.v = {edges_cte}.src GROUP BY 1)"""
        )
        parts.append(f"at{i} AS MATERIALIZED (SELECT sum(s)::BIGINT AS t FROM ar{i})")
        parts.append(
            f"""a{i} AS MATERIALIZED (
  SELECT v.v, CASE WHEN ar.s IS NULL THEN 0
    ELSE (ar.s * 1000000) // (SELECT t FROM at{i}) END::BIGINT AS r
  FROM hverts v LEFT JOIN ar{i} ar ON ar.v = v.v)"""
        )
        parts.append(
            f"""hr{i} AS MATERIALIZED (
  SELECT {edges_cte}.src AS v, sum(p.r)::BIGINT AS s
  FROM {edges_cte} JOIN a{i} p ON p.v = {edges_cte}.dst GROUP BY 1)"""
        )
        parts.append(f"ht{i} AS MATERIALIZED (SELECT sum(s)::BIGINT AS t FROM hr{i})")
        parts.append(
            f"""h{i} AS MATERIALIZED (
  SELECT v.v, CASE WHEN hr.s IS NULL THEN 0
    ELSE (hr.s * 1000000) // (SELECT t FROM ht{i}) END::BIGINT AS r
  FROM hverts v LEFT JOIN hr{i} hr ON hr.v = v.v)"""
        )
    parts.append(
        f"""hsel AS (
  SELECT h.v AS entity, h.r AS hub_fp, a.r AS auth_fp
  FROM h{iterations} h JOIN a{iterations} a ON a.v = h.v)"""
    )
    return ",\n".join(parts)


def kcore_fixed(edges: DataFrame, k: int = 2, rounds: int = 8) -> DataFrame:
    """k-core decomposition by fixed-round peeling (Seidman 1983; the
    Matula-Beck peel made engine-exact): repeatedly delete vertices of
    undirected degree < ``k`` and the edges they carry. Runs EXACTLY
    ``rounds`` rounds in both engines (extra rounds past the fixpoint
    are no-ops, so a fixed unroll is convergence-safe) rather than
    looping to convergence, which would need a driver-side count per
    round. Returns ``(entity, core_deg)`` — surviving vertices with
    their degree inside the surviving subgraph.

    Scale shape per round: one partial-agg degree groupBy (vertex-sized)
    + two left-semi joins pushing the survivor set back onto the edge
    list — no edge-list shuffle grows across rounds. The k-core
    is the standard KG-quality trim (drop weakly-attached crawl debris
    before embedding training)."""

    def peel(und):
        keep = _undirected_degree(und).filter(F.col("deg") >= k).select("v")
        return (
            und.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
            .select("a", "b")
        )

    und = _undirected(edges, "src", "dst").localCheckpoint(eager=True)
    und, _ = _iterate(und, peel, rounds, every=2)
    return _undirected_degree(und).select(
        F.col("v").alias("entity"), F.col("deg").alias("core_deg")
    )


def kcore_sql_chain(
    edges_cte: str = "e", k: int = 2, rounds: int = 8
) -> str:
    """DuckDB twin of :func:`kcore_fixed`: emits ``ku0..ku{rounds}``;
    caller aggregates degrees over ``ku{rounds}``. Every CTE is
    ``MATERIALIZED``: each round references the previous edge set 5x,
    so DuckDB's default inlining re-evaluates the chain ~5^rounds times
    (observed as a too-many-open-files explosion at rounds=8)."""
    parts = [
        f"""ku0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM {edges_cte} WHERE src <> dst)"""
    ]
    for i in range(1, rounds + 1):
        p = f"ku{i - 1}"
        parts.append(
            f"""kd{i} AS MATERIALIZED (
  SELECT v, count(*)::BIGINT AS c FROM (
    SELECT a AS v FROM {p} UNION ALL SELECT b FROM {p}) GROUP BY v)"""
        )
        parts.append(
            f"""ku{i} AS MATERIALIZED (
  SELECT u.a, u.b FROM {p} u
  JOIN kd{i} da ON da.v = u.a AND da.c >= {k}
  JOIN kd{i} db ON db.v = u.b AND db.c >= {k})"""
        )
    return ",\n".join(parts)


def bellman_ford_fixed(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 6,
    weight: str = None,
) -> DataFrame:
    """Multi-source shortest paths over integer edge weights by
    fixed-round Bellman-Ford relaxation — the relational SSSP. Each
    round relaxes every edge once: ``dist'(v) = min(dist(v), min over
    in-edges (u,v) of dist(u) + w(u,v))``. ``rounds`` bounds the path
    length considered (extra rounds past convergence are no-ops).
    ``weight`` names an integer column on ``edges``; None means unit
    weights (plain multi-source BFS). Returns ``(entity, dist)`` for
    every vertex reached within ``rounds`` hops of any seed.

    Scale shape per round: ONE edges⋈dist join (dist is vertex-sized,
    broadcastable when seeds reach few vertices; shuffled join once the
    frontier is graph-sized) + one partial-agg min groupBy; integer
    mins are exact and associative, so partition order can never move
    an answer."""
    w = F.col(weight).cast("long") if weight else F.lit(1).cast("long")
    e = edges.select(
        "src", "dst", w.alias("w")
    ).localCheckpoint(eager=True)
    dist = seeds.select(
        "v", F.lit(0).cast("long").alias("d")
    ).distinct()

    def relax(dist):
        relaxed = (
            e.join(dist.withColumnRenamed("v", "src"), "src")
            .select(F.col("dst").alias("v"), (F.col("d") + F.col("w")).alias("d"))
        )
        return dist.union(relaxed).groupBy("v").agg(F.min("d").alias("d"))

    dist, _ = _iterate(dist, relax, rounds, every=2)
    return dist.select(F.col("v").alias("entity"), F.col("d").alias("dist"))


def bellman_ford_sql_chain(
    edges_cte: str = "e",
    seeds_cte: str = "seeds",
    rounds: int = 6,
    weight_expr: str = "1",
) -> str:
    """DuckDB twin of :func:`bellman_ford_fixed`: emits ``bf0..bf{rounds}``
    (``seeds_cte`` must expose column ``v``; ``weight_expr`` is evaluated
    against ``{edges_cte}``'s columns); caller selects from
    ``bf{rounds}``."""
    parts = [
        f"bfe AS (SELECT src, dst, ({weight_expr})::BIGINT AS w FROM {edges_cte})",
        f"bf0 AS (SELECT DISTINCT v, 0::BIGINT AS d FROM {seeds_cte})",
    ]
    for i in range(1, rounds + 1):
        p = f"bf{i - 1}"
        parts.append(
            f"""bf{i} AS (
  SELECT v, min(d)::BIGINT AS d FROM (
    SELECT v, d FROM {p}
    UNION ALL
    SELECT bfe.dst AS v, p.d + bfe.w AS d
    FROM bfe JOIN {p} p ON p.v = bfe.src) GROUP BY v)"""
        )
    return ",\n".join(parts)


def random_walks_fixed(
    edges: DataFrame,
    seeds: DataFrame,
    steps: int = 4,
) -> DataFrame:
    """Deterministic random-walk corpus (the DeepWalk/node2vec training
    -data generator, p=q=1): one walk per seed, ``steps`` transitions;
    at step ``t`` from vertex ``cur`` the walk takes out-neighbor number
    ``affine_mix(h60(walk_id), t) mod out_deg(cur)`` in dst-sorted
    order. No RNG: the "coin" is the cross-engine hash family keyed on
    (walk, step), so walks are exactly reproducible — and exactly
    checkable — in both engines, and re-running a shard regenerates
    identical walks (the resumability property a 100 TB walk corpus
    needs). Dead-ends stop the walk. Returns ``(walk_id, step,
    entity)``, step 0 = seed.

    Scale shape: adjacency is ranked ONCE (row_number over (src, dst)
    — one shuffle, reused every step, lineage-cut); each step is one
    out-degree lookup join + one (cur, idx) equi-join against the
    ranked adjacency. Positions, not paths, flow between steps, so
    state per walk is O(1)."""
    from .hashes import affine_mix, h60

    adj = edges.select(F.col("src").alias("s"), F.col("dst").alias("t")).distinct()
    from pyspark.sql import Window

    ranked = adj.select(
        "s",
        "t",
        (F.row_number().over(Window.partitionBy("s").orderBy("t")) - 1).alias(
            "rnk"
        ),
    ).localCheckpoint(eager=True)
    od = ranked.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("od")
    ).localCheckpoint(eager=False)
    cur = seeds.select(F.col("v").alias("walk_id")).distinct().select(
        "walk_id",
        F.lit(0).cast("int").alias("step"),
        F.col("walk_id").alias("entity"),
    )
    out = cur
    for t in range(1, steps + 1):
        step_in = cur.select("walk_id", F.col("entity").alias("s"))
        nxt = (
            step_in.join(od, "s")
            .select(
                "walk_id",
                "s",
                F.pmod(
                    affine_mix(h60(F.col("walk_id")), F.lit(t)), F.col("od")
                ).alias("rnk"),
            )
            .join(ranked, ["s", "rnk"])
            .select(
                "walk_id",
                F.lit(t).cast("int").alias("step"),
                F.col("t").alias("entity"),
            )
        )
        cur = nxt.localCheckpoint(eager=False)
        out = out.union(cur)
    return out


def random_walks_sql_chain(
    edges_cte: str = "e", seeds_cte: str = "seeds", steps: int = 4
) -> str:
    """DuckDB twin of :func:`random_walks_fixed`: emits
    ``rwadj/rwod/rw0..rw{steps}``; caller unions ``rw0..rw{steps}``
    (or selects from ``rwall``)."""
    from .hashes import affine_mix_sql, h60_sql

    mix = affine_mix_sql(f"({h60_sql('walk_id')})", str("__T__"))
    parts = [
        f"""rwadj AS (
  SELECT s, t, row_number() OVER (PARTITION BY s ORDER BY t) - 1 AS rnk
  FROM (SELECT DISTINCT src AS s, dst AS t FROM {edges_cte}))""",
        "rwod AS (SELECT s, count(*)::BIGINT AS od FROM rwadj GROUP BY s)",
        f"rw0 AS (SELECT DISTINCT v AS walk_id, 0 AS step, v AS entity FROM {seeds_cte})",
    ]
    for t in range(1, steps + 1):
        # literal salts must be BIGINT: DuckDB's INT32 literal arithmetic
        # overflows inside affine_mix's multiplier product
        m = mix.replace("__T__", f"{t}::BIGINT")
        parts.append(
            f"""rw{t} AS (
  SELECT p.walk_id, {t} AS step, a.t AS entity
  FROM rw{t - 1} p
  JOIN rwod o ON o.s = p.entity
  JOIN rwadj a ON a.s = p.entity AND a.rnk = ({m}) % o.od)"""
        )
    alls = " UNION ALL ".join(
        f"SELECT walk_id, step::INT AS step, entity FROM rw{t}"
        for t in range(steps + 1)
    )
    parts.append(f"rwall AS ({alls})")
    return ",\n".join(parts)


def entity_summary(facts: DataFrame) -> DataFrame:
    """Entity summarization: per subject, the two most
    INFORMATIVE facts, informativeness = relation rarity (global
    relation frequency ascending — the IDF intuition: 'located_in' on
    2/3 of suppliers says less than a rare relation). Deterministic
    tiebreak (r, o). Returns ``(s, r, o, rel_n, rank)`` — the "entity
    card" projection a KG front-end serves.

    Scale shape: relation frequencies are ONE partial-agg groupBy to a
    relation-vocabulary-sized table (broadcast side of the annotate
    join); the per-subject rank is one window shuffle keyed on s —
    bounded output (two per subject), never a global sort."""
    from pyspark.sql import Window

    fd = facts.select("s", "r", "o").distinct()
    rel_n = fd.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("rel_n"))
    win = Window.partitionBy("s").orderBy(
        F.asc("rel_n"), F.asc("r"), F.asc("o")
    )
    return (
        fd.join(F.broadcast(rel_n), "r")
        .select("s", "r", "o", "rel_n", F.row_number().over(win).alias("rank"))
        .filter(F.col("rank") <= 2)
    )


def resource_allocation_index(facts: DataFrame, pairs: DataFrame) -> DataFrame:
    """Resource-Allocation link-prediction index (Zhou, Lü & Zhang
    2009) for a CANDIDATE PAIR PANEL: ``RA(x,y) = Σ_{z ∈ Γout(x) ∩
    Γout(y)} 1e6 // deg_in(z)`` in integer units of 1e-6 — the
    degree-weighted upgrade of the common-neighbors count (hubs shared
    by everyone contribute ~0). Adamic-Adar's 1/log(deg) needs float
    log; the RA 1/deg form is the integer-exact member of the same
    family and outperforms AA on most benchmarks. Returns ``(x, y,
    n_common, ra_fp)``.

    Scale shape — the serving reality: all-pairs RA explodes on hub
    objects (in-deg d ⇒ d^2 wedges), so the operator scores a pair
    panel instead: two panel⨝facts joins (panel-sized output), a
    broadcast in-degree annotate, one partial-agg groupBy. The panel
    is whatever upstream candidate generation (LSH, ANN, co-citation
    df-cut) produced."""
    fd = facts.select("s", "o").distinct()
    deg = fd.groupBy(F.col("o").alias("z")).agg(
        F.count(F.lit(1)).cast("long").alias("dz")
    )
    p = pairs.select("x", "y").distinct()
    wedges = (
        p.join(fd.select(F.col("s").alias("x"), F.col("o").alias("z")), "x")
        .join(fd.select(F.col("s").alias("y"), F.col("o").alias("z")), ["y", "z"])
    )
    return (
        wedges.join(F.broadcast(deg), "z")
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(F.expr("1000000L div dz")).cast("long").alias("ra_fp"),
        )
    )


def bgp_match(facts, patterns, optionals=None, negations=None):
    """SPARQL-style basic-graph-pattern matcher: compile a list of
    triple patterns ``(s, p, o)`` — strings starting with ``?`` are
    variables, anything else a constant — into a DataFrame join plan
    and return the DISTINCT variable bindings (columns = variable
    names, sorted).

    The compiler is ~30 lines because Catalyst does the query-planning
    half: each pattern becomes a filtered projection of the fact table
    (constants → pushed-down scan predicates), shared variables become
    equi-join keys, and join ORDER is left to the optimizer (AQE
    re-plans with runtime sizes, broadcasting selective
    constant-bound patterns). A repeated variable inside one pattern
    compiles to a row-local equality filter. Patterns sharing no
    variable with the accumulated plan produce an explicit (documented)
    cartesian binding product, exactly like SPARQL semantics.

    ``optionals``: triple patterns LEFT-joined on their shared
    variables (SPARQL OPTIONAL — unmatched rows keep null bindings).
    ``negations``: triple patterns anti-joined on their shared
    variables (SPARQL FILTER NOT EXISTS). Both compile to the join
    flavors Spark already optimizes; applied after the required
    patterns, negations before optionals."""

    def compile_one(ps, pp, po):
        t = facts
        rename = {}
        for val, col in ((ps, "s"), (pp, "r"), (po, "o")):
            if val.startswith("?"):
                v = val[1:]
                if v in rename:  # repeated var within the pattern
                    t = t.filter(F.col(rename[v]) == F.col(col))
                else:
                    rename[v] = col
            else:
                t = t.filter(F.col(col) == val)
        return t.select(*[F.col(c).alias(v) for v, c in rename.items()]), set(rename)

    plan = None
    bound: set = set()
    for pat in patterns:
        t, vs = compile_one(*pat)
        if plan is None:
            plan = t
        else:
            shared = sorted(bound & vs)
            plan = plan.join(t, shared) if shared else plan.crossJoin(t)
        bound |= vs
    for pat in negations or []:
        t, vs = compile_one(*pat)
        shared = sorted(bound & vs)
        plan = plan.join(t.select(*shared).distinct(), shared, "left_anti")
    for pat in optionals or []:
        t, vs = compile_one(*pat)
        shared = sorted(bound & vs)
        plan = plan.join(t, shared, "left") if shared else plan.crossJoin(t)
        bound |= vs
    return plan.select(*sorted(bound)).distinct()


def local_clustering(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex local clustering coefficient of the UNDIRECTED graph:
    ``cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))`` in integer ppm, for
    every vertex with degree >= 2 — (v, deg, n_tri, cc_ppm).

    Same degree-ordered wedge join as :func:`triangle_count` (each
    triangle closes exactly once, wedge join bounded O(sqrt(m)) per
    vertex on skewed graphs); each closed triangle then credits its
    THREE corners via a row-local array explode — no second triangle
    pass — and the per-vertex tally joins the degree table on the
    vertex key."""
    deg, closed = _triangles(edges, src, dst)
    tc = (
        closed.select(
            F.explode(F.array(F.col("u"), F.col("x"), F.col("y"))).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tc, "v", "left")
        .select(
            "v",
            "deg",
            F.coalesce("n_tri", F.lit(0).cast("long")).alias("n_tri"),
            F.expr(
                "(2L * coalesce(n_tri, 0L) * 1000000L)"
                " div (deg * (deg - 1L))"
            ).alias("cc_ppm"),
        )
    )
