"""The eleven ``datapipe.graph`` operators the ``kg_graph`` workload runs
over the graph's edges, and the DuckDB twins their outputs are checked
against: ``graph.py``'s ``*_sql_chain`` CTE chains where the module has
one, plain SQL for degree, triangles and clustering, and a union-find for
connected components."""

from __future__ import annotations

from typing import Callable, Dict, List

N_SEEDS = 20
# One round each (two for k-core, whose first round only marks): every
# round costs Spark jobs, and the workload must fit a run. One round still
# runs each operator's whole code path.
PR_ITERS, PR_SCALE = 1, 10**12
HITS_ITERS = 1
LPA_ITERS = 1
KCORE_K, KCORE_ROUNDS = 2, 2
SSSP_ROUNDS = 1
WALK_STEPS = 1

OPS = (
    "pagerank", "ppr", "hits", "cc", "lpa", "kcore", "sssp", "walks",
    "triangles", "clustering", "degree",
)


def spark_ops(edges) -> Dict[str, Callable[[], list]]:
    """``edges``: DISTINCT directed ``(src, dst)``. Each op returns its
    collected rows as tuples."""
    from pyspark.sql import functions as F

    from genie_spark.datapipe import graph as G
    from genie_spark.datapipe.hashes import h60

    seeds = edges.select(F.col("src").alias("v")).distinct().orderBy("v").limit(N_SEEDS)
    weighted = edges.withColumn(
        "w", F.lit(1).cast("long") + F.pmod(h60(F.concat("src", F.lit("|"), "dst")), F.lit(5))
    )
    pairs = edges.select(
        F.least("src", "dst").alias("pa"), F.greatest("src", "dst").alias("pb")
    ).filter(F.col("pa") < F.col("pb")).distinct()

    def rows(df, cols):
        return [tuple(r) for r in df.select(*cols).collect()]

    return {
        "pagerank": lambda: rows(G.pagerank_fixed(edges, iterations=PR_ITERS, scale=PR_SCALE), ["entity", "rank_fp"]),
        "ppr": lambda: rows(
            G.personalized_pagerank_fixed(edges, seeds, iterations=PR_ITERS, scale=PR_SCALE), ["entity", "rank_fp"]
        ),
        "hits": lambda: rows(
            G.hits_fixed(edges, iterations=HITS_ITERS, dedup_edges=False), ["entity", "hub_fp", "auth_fp"]
        ),
        "cc": lambda: rows(G.connected_components(edges, src="src", dst="dst"), ["id", "component"]),
        "lpa": lambda: rows(G.label_propagation_fixed(edges, iterations=LPA_ITERS), ["id", "community"]),
        "kcore": lambda: rows(G.kcore_fixed(edges, k=KCORE_K, rounds=KCORE_ROUNDS), ["entity", "core_deg"]),
        "sssp": lambda: rows(G.bellman_ford_fixed(weighted, seeds, rounds=SSSP_ROUNDS, weight="w"), ["entity", "dist"]),
        "walks": lambda: rows(G.random_walks_fixed(edges, seeds, steps=WALK_STEPS), ["walk_id", "step", "entity"]),
        "triangles": lambda: rows(G.triangle_count(pairs, src="pa", dst="pb"), ["n_triangles"]),
        "clustering": lambda: rows(G.local_clustering(pairs, src="pa", dst="pb"), ["v", "deg", "n_tri", "cc_ppm"]),
        "degree": lambda: rows(G.degree_stats(edges), ["entity", "out_deg", "in_deg", "degree"]),
    }


def _components(edges: List[tuple]) -> List[tuple]:
    parent: Dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:  # the smaller id is the root: the label is the component minimum
            parent[max(ra, rb)] = min(ra, rb)
    return [(v, find(v)) for v in parent]


def oracle(edges: List[tuple]) -> Dict[str, List[tuple]]:
    """Every op's expected rows, from DuckDB over the same edge list."""
    import duckdb

    from genie_spark.datapipe import graph as G
    from genie_spark.datapipe.hashes import h60_sql

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE edges (src VARCHAR, dst VARCHAR)")
        con.executemany("INSERT INTO edges VALUES (?, ?)", edges)
        base = (
            "e AS (SELECT DISTINCT src, dst FROM edges),\n"
            f"seeds AS (SELECT DISTINCT src AS v FROM e ORDER BY v LIMIT {N_SEEDS}),\n"
            "pe AS (SELECT DISTINCT least(src, dst) AS pa, greatest(src, dst) AS pb FROM e WHERE src <> dst)"
        )
        w = f"1 + ({h60_sql('src || chr(124) || dst')}) % 5"
        sql = {
            "pagerank": f"{G.pagerank_sql_chain('e', PR_ITERS, PR_SCALE)}\nSELECT v, r FROM pr{PR_ITERS}",
            "ppr": f"{G.ppr_sql_chain('e', 'seeds', iterations=PR_ITERS, scale=PR_SCALE)}\n"
            f"SELECT v, r FROM ppr{PR_ITERS}",
            "hits": f"{G.hits_sql_chain('e', iterations=HITS_ITERS)}\nSELECT entity, hub_fp, auth_fp FROM hsel",
            "lpa": f"{G.lpa_sql_chain('e', iterations=LPA_ITERS)}\nSELECT v, lbl FROM lpa{LPA_ITERS}",
            "kcore": f"{G.kcore_sql_chain('e', KCORE_K, KCORE_ROUNDS)}\n"
            f"SELECT v, count(*)::BIGINT FROM (SELECT a AS v FROM ku{KCORE_ROUNDS} UNION ALL "
            f"SELECT b FROM ku{KCORE_ROUNDS}) GROUP BY v",
            "sssp": f"{G.bellman_ford_sql_chain('e', 'seeds', SSSP_ROUNDS, w)}\nSELECT v, d FROM bf{SSSP_ROUNDS}",
            "walks": f"{G.random_walks_sql_chain('e', 'seeds', WALK_STEPS)}\nSELECT walk_id, step, entity FROM rwall",
            "triangles": """tri AS (SELECT 1 FROM pe e1
  JOIN pe e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
  JOIN pe e3 ON e3.pa = e1.pb AND e3.pb = e2.pb)
SELECT count(*)::BIGINT FROM tri""",
            "clustering": """tri AS (SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z FROM pe e1
  JOIN pe e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
  JOIN pe e3 ON e3.pa = e1.pb AND e3.pb = e2.pb),
tv AS (SELECT unnest([x, y, z]) AS v FROM tri),
tc AS (SELECT v, count(*)::BIGINT AS n_tri FROM tv GROUP BY 1),
dg AS (SELECT v, count(*)::BIGINT AS deg FROM (SELECT pa AS v FROM pe UNION ALL SELECT pb FROM pe) GROUP BY 1)
SELECT dg.v, deg, coalesce(n_tri, 0)::BIGINT,
       ((2 * coalesce(n_tri, 0) * 1000000) // (deg * (deg - 1)))::BIGINT
FROM dg LEFT JOIN tc ON tc.v = dg.v WHERE deg >= 2""",
            "degree": """o AS (SELECT src AS v, count(*) AS n FROM e GROUP BY src),
i AS (SELECT dst AS v, count(*) AS n FROM e GROUP BY dst)
SELECT coalesce(o.v, i.v), coalesce(o.n, 0)::BIGINT, coalesce(i.n, 0)::BIGINT,
       (coalesce(o.n, 0) + coalesce(i.n, 0))::BIGINT
FROM o FULL JOIN i ON o.v = i.v""",
        }
        out = {op: [tuple(r) for r in con.execute(f"WITH {base},\n{q}").fetchall()] for op, q in sql.items()}
        out["cc"] = _components(con.execute("SELECT DISTINCT src, dst FROM edges").fetchall())
        return out
    finally:
        con.close()


def problems(got: Dict[str, List[tuple]], expected: Dict[str, List[tuple]]) -> List[str]:
    out = []
    for op in OPS:
        a, b = sorted(got[op]), sorted(expected[op])
        if a != b:
            out.append(f"graph.{op}: {len(set(a) ^ set(b))} rows differ from the DuckDB twin")
    return out
