"""Connected-components duplicate clustering (datapipe/graph.py).

Value-level parity with the DuckDB recursive-CTE twin lives in
test_oracle_parity.py (dedup_components); these cover the algorithmic
properties: transitive closure, singleton handling, pointer-jump
convergence on long paths, and partition invariance.
"""

import pytest
from pyspark.sql import functions as F

from genie_spark.datapipe.graph import (
    component_dedup,
    components_with_singletons,
    connected_components,
)


def _comp_map(df):
    return {r["id"]: r["component"] for r in df.collect()}


def test_transitive_chain_collapses(spark):
    # A~B and B~C but no A~C edge: pairwise keep-min would keep A and C;
    # the closure must put all three in component A.
    edges = spark.createDataFrame([(10, 20), (20, 30)], ["id_a", "id_b"])
    comp = _comp_map(connected_components(edges))
    assert comp == {10: 10, 20: 10, 30: 10}


def test_disjoint_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (9, 7)], ["id_a", "id_b"]
    )
    comp = _comp_map(connected_components(edges))
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}


def test_long_path_converges_in_log_rounds(spark):
    # Path 0-1-...-40: diameter 40. Without pointer jumping min-label
    # propagation needs ~40 rounds; with it ~log2(41)+const. max_rounds=10
    # both proves the jump works and bounds the loop.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"]
    )
    comp = _comp_map(connected_components(edges, max_rounds=10))
    assert set(comp.values()) == {0}
    assert len(comp) == 41


def test_singletons_label_themselves(spark):
    verts = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    edges = spark.createDataFrame([(1, 4)], ["id_a", "id_b"])
    out = components_with_singletons(verts, edges, "doc_id")
    comp = {r["doc_id"]: r["component"] for r in out.collect()}
    assert comp == {0: 0, 1: 1, 2: 2, 3: 3, 4: 1, 5: 5}


def test_component_dedup_keeps_min_per_component(spark):
    verts = spark.createDataFrame([(i,) for i in range(7)], ["doc_id"])
    edges = spark.createDataFrame(
        [(5, 2), (2, 6), (0, 3)], ["id_a", "id_b"]
    )
    kept = sorted(
        r["doc_id"] for r in component_dedup(verts, edges, "doc_id").collect()
    )
    # {0,3} -> 0, {2,5,6} -> 2, singletons 1 and 4 survive
    assert kept == [0, 1, 2, 4]


def test_partition_invariance(spark):
    edges = [(i, i + 1) for i in range(0, 30, 2)] + [(4, 6), (20, 26)]
    df1 = spark.createDataFrame(edges, ["id_a", "id_b"]).repartition(1)
    df13 = spark.createDataFrame(edges, ["id_a", "id_b"]).repartition(13)
    assert _comp_map(connected_components(df1)) == _comp_map(
        connected_components(df13)
    )


def _pagerank_py(edges, iterations=5, scale=10**12, num=85, den=100):
    """Pure-Python twin of pagerank_fixed's integer recurrence."""
    verts = sorted({v for e in edges for v in e})
    n = len(verts)
    outd = {}
    for u, _ in edges:
        outd[u] = outd.get(u, 0) + 1
    r = {v: scale // n for v in verts}
    tele = ((den - num) * scale) // (den * n)
    for _ in range(iterations):
        inflow = {v: 0 for v in verts}
        for u, w in edges:
            inflow[w] += r[u] // outd[u]
        dang = sum(r[v] for v in verts if v not in outd)
        r = {
            v: tele + (num * (inflow[v] + dang // n)) // den for v in verts
        }
    return r


def test_pagerank_matches_python_twin(spark):
    from genie_spark.datapipe.graph import (
        pagerank_fixed,
        personalized_pagerank_fixed,
    )

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("e", "d"), ("e", "a"),
        # f is dangling (no out-edges), reached from a's component
        ("c", "f"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["entity"]: r["rank_fp"]
        for r in pagerank_fixed(df, iterations=5).collect()
    }
    assert got == _pagerank_py(edges, iterations=5)
    # PPR with every vertex as a seed is plain PageRank, bit for bit
    every = spark.createDataFrame([(v,) for v in got], ["v"])
    ppr = {
        r["entity"]: r["rank_fp"]
        for r in personalized_pagerank_fixed(df, every, iterations=5).collect()
    }
    assert ppr == _pagerank_py(edges, iterations=5)


def test_pagerank_partition_invariance(spark):
    from genie_spark.datapipe.graph import pagerank_fixed

    edges = [(f"v{i}", f"v{(i * 7 + 3) % 20}") for i in range(40)]
    df1 = spark.createDataFrame(edges, ["src", "dst"]).distinct().repartition(1)
    df9 = spark.createDataFrame(edges, ["src", "dst"]).distinct().repartition(9)
    one = {r["entity"]: r["rank_fp"] for r in pagerank_fixed(df1, 4).collect()}
    nine = {r["entity"]: r["rank_fp"] for r in pagerank_fixed(df9, 4).collect()}
    assert one == nine


def test_degree_stats(spark):
    from genie_spark.datapipe.graph import degree_stats

    df = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], ["src", "dst"]
    )
    got = {
        r["entity"]: (r["out_deg"], r["in_deg"], r["degree"])
        for r in degree_stats(df).collect()
    }
    assert got == {"a": (2, 0, 2), "b": (1, 1, 2), "c": (0, 2, 2)}


def test_k_hop_min_distance(spark):
    from genie_spark.datapipe.graph import k_hop

    # diamond s->a->t, s->t: t reachable at hop 1 and 2 -> min_hop 1
    edges = spark.createDataFrame(
        [("s", "a"), ("a", "t"), ("s", "t"), ("t", "z")], ["src", "dst"]
    )
    seeds = spark.createDataFrame([("s",)], ["v"])
    got = {r["entity"]: r["min_hop"] for r in k_hop(edges, seeds).collect()}
    assert got == {"s": 0, "a": 1, "t": 1, "z": 2}


def test_triangle_count_known_graphs(spark):
    from genie_spark.datapipe.graph import local_clustering, triangle_count

    def clustering(df):
        return {
            r["v"]: (r["deg"], r["n_tri"], r["cc_ppm"])
            for r in local_clustering(df).collect()
        }

    # K4 has 4 triangles; input direction/duplication must not matter
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("c", "b"), ("b", "d"), ("c", "d"),
          ("b", "a")]  # duplicate reversed edge
    df = spark.createDataFrame(k4, ["src", "dst"])
    assert triangle_count(df).collect()[0]["n_triangles"] == 4
    assert clustering(df) == {v: (3, 3, 1_000_000) for v in "abcd"}
    # triangle + pendant edge
    df2 = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("z", "x"), ("z", "w")], ["src", "dst"]
    )
    assert triangle_count(df2).collect()[0]["n_triangles"] == 1
    # w has degree 1, so it has no coefficient
    assert clustering(df2) == {
        "x": (2, 1, 1_000_000), "y": (2, 1, 1_000_000), "z": (3, 1, 333_333),
    }


def test_nonconvergence_raises(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_rounds=1)


def test_convergence_loops_fire_no_probe_job(spark, monkeypatch):
    """Connected components and both closures read convergence from the
    count each round's own cut observes: an ``isEmpty`` or ``count`` on a
    frame would be a separate probe job per round."""
    from genie_spark.datapipe.graph import closure_delta, transitive_closure

    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"])
    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    new = spark.createDataFrame([("d", "e")], ["src", "dst"])

    def probe(*_args, **_kwargs):
        raise AssertionError("a convergence loop ran a probe job")

    monkeypatch.setattr(type(pairs), "isEmpty", probe)
    monkeypatch.setattr(type(pairs), "count", probe)
    comp = connected_components(pairs)
    closure = transitive_closure(chain, max_hops=10)
    delta = closure_delta(closure, new, chain.union(new), max_hops=10)
    monkeypatch.undo()

    assert _comp_map(comp) == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    assert {(r["src"], r["dst"]): r["min_hops"] for r in closure.collect()} == {
        ("a", "b"): 1, ("b", "c"): 1, ("c", "d"): 1,
        ("a", "c"): 2, ("b", "d"): 2, ("a", "d"): 3,
    }
    assert {(r["src"], r["dst"]) for r in delta.collect()} == {
        ("a", "e"), ("b", "e"), ("c", "e"), ("d", "e"),
    }


def test_common_neighbors_bipartite_sides(spark):
    from genie_spark.datapipe.graph import common_neighbors_bipartite

    # orders o1,o2 share parts p1,p2; o3 shares only p1 with them
    edges = spark.createDataFrame(
        [("p1", "o1"), ("p1", "o2"), ("p2", "o1"), ("p2", "o2"),
         ("p1", "o3"), ("p3", "o3")],
        ["part", "order_"],
    )
    out = {
        (r["id_a"], r["id_b"]): (r["common"], r["jaccard_ppm"])
        for r in common_neighbors_bipartite(edges).collect()
    }
    # deg(o1)=deg(o2)=2 -> jaccard 2/2
    assert out == {("o1", "o2"): (2, 10**6)}


def _h60_py(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_link_prediction_ranks_match_bruteforce(spark):
    """Filtered link-prediction ranks (graph.link_prediction_ranks) must
    equal a pure-Python brute-force of the protocol: rank of the true
    object among all candidates ordered by (energy, entity id), known
    positives excluded (filtered setting, Sun et al. 2019)."""
    from genie_spark.datapipe.graph import link_prediction_ranks

    triples = [
        ("a", "r1", "x"), ("a", "r1", "y"), ("b", "r1", "x"),
        ("b", "r2", "z"), ("c", "r2", "y"), ("c", "r1", "z"),
        ("d", "r2", "x"), ("d", "r1", "w"),
    ]
    dim, mod = 4, 50

    def energy(s, r, o):
        def emb(kind, name, d):
            return _h60_py(f"{kind}\x01{name}\x01{d}") % mod

        return sum(
            abs(emb("e", s, d) + emb("r", r, d) - emb("e", o, d))
            for d in range(dim)
        )

    pos = set(triples)
    ents = sorted({o for _, _, o in triples})
    # test_mod=1 -> every positive is a test triple
    expected = {}
    for s, r, o in pos:
        e_true = energy(s, r, o)
        rank = 1
        for e in ents:
            if e == o or (s, r, e) in pos:
                continue
            ec = energy(s, r, e)
            if (ec, e) < (e_true, o):
                rank += 1
        expected[(s, r, o)] = rank

    df = spark.createDataFrame(triples, ["s", "r", "o"])
    got = {
        (row["s"], row["r"], row["o"]): row["rank"]
        for row in link_prediction_ranks(
            df, dim=dim, mod=mod, test_mod=1
        ).collect()
    }
    assert got == expected


def test_link_prediction_metrics_shape(spark):
    """Per-relation rollup: hits@k monotone in k, MRR bounded by 1e6,
    and n_test sums to the hash-drawn test-cut size."""
    from genie_spark.datapipe.graph import link_prediction

    triples = [
        (f"s{i}", f"r{i % 2}", f"o{i % 5}") for i in range(40)
    ]
    df = spark.createDataFrame(triples, ["s", "r", "o"])
    rows = link_prediction(df, dim=4, mod=50, test_mod=1).collect()
    assert {r["r"] for r in rows} == {"r0", "r1"}
    for r in rows:
        assert 0 < r["mrr_ppm"] <= 10**6
        assert r["hits1_ppm"] <= r["hits3_ppm"] <= r["hits10_ppm"] <= 10**6
        assert r["sum_rank"] >= r["n_test"]
    assert sum(r["n_test"] for r in rows) == len(set(triples))


def test_constraint_violations(spark):
    from genie_spark.datapipe.graph import constraint_violations

    triples = spark.createDataFrame(
        [("a", "f", "x"), ("a", "f", "y"), ("a", "f", "y"),  # violation
         ("b", "f", "x"),                                    # fine
         ("a", "g", "x"), ("a", "g", "y")],                  # undeclared
        ["s", "r", "o"],
    )
    got = {
        (r["s"], r["r"]): (r["n_objects"], r["min_o"], r["max_o"])
        for r in constraint_violations(triples, ["f"]).collect()
    }
    assert got == {("a", "f"): (2, "x", "y")}
    with pytest.raises(ValueError, match="non-empty"):
        constraint_violations(triples, [])


def test_label_propagation_matches_bruteforce(spark):
    """Deterministic synchronous LPA must equal a pure-Python twin of
    the rule (frequency vote over neighbors, ties to smallest label,
    fixed rounds) on a two-triangle bridge graph."""
    from genie_spark.datapipe.graph import label_propagation_fixed

    edges = [("a", "b"), ("b", "c"), ("a", "c"),
             ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")]
    sym = set()
    for u, w in edges:
        sym.add((u, w))
        sym.add((w, u))
    verts = sorted({u for u, _ in sym})
    lbl = {v: v for v in verts}
    for _ in range(3):
        new = {}
        for v in verts:
            votes = {}
            for u, w in sym:
                if w == v:
                    votes[lbl[u]] = votes.get(lbl[u], 0) + 1
            new[v] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        lbl = new
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["id"]: r["community"]
        for r in label_propagation_fixed(df, iterations=3).collect()
    }
    assert got == lbl


def test_transitive_closure_min_hops_bruteforce(spark):
    """Semi-naive closure must equal brute-force BFS min-hops on a DAG
    with diamond multi-path pairs (min wins) and a cycle guard case."""
    from genie_spark.datapipe.graph import transitive_closure

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"),  # diamond
             ("x", "y"), ("y", "x")]                          # 2-cycle
    # brute force BFS from every vertex
    adj = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
    want = {}
    for s in {u for e in edges for u in e}:
        # seen starts EMPTY: a vertex on a cycle reaches itself (hop = cycle
        # length), and the closure emits that pair — reachability via >=1 edge
        frontier, hop, seen = [s], 0, set()
        while frontier:
            hop += 1
            nxt = []
            for u in frontier:
                for v in adj.get(u, []):
                    if v not in seen:
                        seen.add(v)
                        nxt.append(v)
                        want[(s, v)] = hop
            frontier = nxt
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        (r["src"], r["dst"]): r["min_hops"]
        for r in transitive_closure(df, max_hops=10).collect()
    }
    assert got == want


def test_closure_delta_matches_full_recompute(spark):
    """Incremental closure must equal closure(all) - closure(old) on a
    chain where new pairs need old-prefix + new + old-middle + new
    compositions (two separate new edges on one witness path)."""
    from genie_spark.datapipe.graph import closure_delta, transitive_closure

    old = [("a", "b"), ("c", "d"), ("e", "f")]
    new = [("b", "c"), ("d", "e")]   # a->b NEW b->c old... chain a..f
    alle = old + new
    old_df = spark.createDataFrame(old, ["src", "dst"])
    new_df = spark.createDataFrame(new, ["src", "dst"])
    all_df = spark.createDataFrame(alle, ["src", "dst"])
    full = {
        (r["src"], r["dst"])
        for r in transitive_closure(all_df, max_hops=10).collect()
    }
    base_df = transitive_closure(old_df, max_hops=10)
    base = {(r["src"], r["dst"]) for r in base_df.collect()}
    got = {
        (r["src"], r["dst"])
        for r in closure_delta(base_df, new_df, all_df, max_hops=10).collect()
    }
    assert got == full - base and got  # non-empty delta


def test_bgp_match_compiler_branches(spark):
    """Repeated variable inside a pattern -> row-local equality;
    constant subject -> pushed filter; disjoint patterns -> cartesian
    binding product (SPARQL semantics)."""
    from pyspark.sql import Row

    from genie_spark.datapipe.graph import bgp_match

    facts = spark.createDataFrame(
        [
            Row(s="a", r="self", o="a"),
            Row(s="a", r="self", o="b"),
            Row(s="a", r="likes", o="b"),
            Row(s="b", r="likes", o="c"),
        ]
    )
    # repeated variable: only (a self a) binds ?x twice
    rows = bgp_match(facts, [("?x", "self", "?x")]).collect()
    assert [r.x for r in rows] == ["a"]
    # constant subject
    rows = bgp_match(facts, [("a", "likes", "?y")]).collect()
    assert [r.y for r in rows] == ["b"]
    # chain join on shared var
    rows = bgp_match(
        facts, [("?x", "likes", "?y"), ("?y", "likes", "?z")]
    ).collect()
    assert [(r.x, r.y, r.z) for r in rows] == [("a", "b", "c")]
    # disjoint patterns -> cartesian product of bindings
    rows = bgp_match(
        facts, [("a", "likes", "?y"), ("b", "likes", "?z")]
    ).collect()
    assert [(r.y, r.z) for r in rows] == [("b", "c")]
