"""pagerank_fixed_point vs a single-process integer oracle — including a
dangling node (no out-edges), which the symmetric kg_pagerank gate graph
cannot exercise."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from agenticknowledgegraphconstructionsystem_spark.operators.graph import (
    DAMP_DEN,
    DAMP_NUM,
    PAGERANK_SCALE,
    pagerank_fixed_point,
)


def _oracle(edges: list[tuple[int, int]], iters: int) -> dict[int, int]:
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    out: dict[int, list[int]] = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    pr = {v: PAGERANK_SCALE // n for v in nodes}
    base = ((DAMP_DEN - DAMP_NUM) * PAGERANK_SCALE) // (DAMP_DEN * n)
    for _ in range(iters):
        in_sum = {v: 0 for v in nodes}
        for s, ds in out.items():
            c = pr[s] // len(ds)
            for d in ds:
                in_sum[d] += c
        dangling = sum(pr[v] for v in nodes if v not in out)
        dang_share = (DAMP_NUM * dangling) // (DAMP_DEN * n)
        pr = {
            v: base + dang_share + (DAMP_NUM * in_sum[v]) // DAMP_DEN
            for v in nodes
        }
    return pr


def _run(spark, edges, iters=6):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["pr"]
        for r in pagerank_fixed_point(df, iters=iters).collect()
    }


def test_pagerank_matches_oracle_with_dangling(spark):
    # 5 -> hub 1; 4 is dangling (in-edges only)
    edges = [(2, 1), (3, 1), (5, 1), (1, 2), (2, 3), (3, 4), (5, 4)]
    got = _run(spark, edges)
    exp = _oracle(edges, 6)
    assert got == exp
    # the hub out-ranks the leaf that only feeds it
    assert got[1] > got[5]


def test_pagerank_mass_bounded_and_deterministic(spark):
    edges = [(i, (i * 7) % 23) for i in range(23) if i != (i * 7) % 23]
    a = _run(spark, edges, iters=4)
    b = _run(spark, edges, iters=4)
    assert a == b
    assert sum(a.values()) <= PAGERANK_SCALE
    assert all(v > 0 for v in a.values())


def test_triangle_counts_known_graph(spark):
    from agenticknowledgegraphconstructionsystem_spark.operators.graph import (
        triangle_counts,
    )

    # K4 on {1,2,3,4} (4 triangles, every node in 3) + pendant edge 4-5
    # + disjoint triangle {6,7,8}
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (6, 7), (6, 8), (7, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 6: 1, 7: 1, 8: 1}  # 5 absent


def test_triangle_degree_orientation_kills_hub_wedges(spark):
    """Star K_{1,1000} with the hub id in the MIDDLE of the id range —
    the worst case for id-ordered orientation (~d²/4 candidate wedges:
    every (low-leaf, hub) edge joins every (hub, high-leaf) edge) — plus
    a disjoint triangle.  Degree orientation points every leaf edge INTO
    the hub, so the wedge join's candidate count collapses to O(E): only
    the triangle's 1 wedge survives.  Counts are unaffected."""
    from agenticknowledgegraphconstructionsystem_spark.operators.graph import (
        degree_oriented_edges,
        triangle_counts,
    )

    hub = 500
    edges = [(min(i, hub), max(i, hub)) for i in range(1001) if i != hub]
    edges += [(2000, 2001), (2000, 2002), (2001, 2002)]
    df = spark.createDataFrame(edges, "src long, dst long")

    oriented = degree_oriented_edges(df)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(e2, F.col("e1.dst") == F.col("e2.src")).count()
    assert wedges <= 10, wedges  # id-ordered would be ~250,000

    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {2000: 1, 2001: 1, 2002: 1}


def test_triangle_counts_orientation_invariant(spark):
    """Degree-ordered and id-ordered enumeration count the same
    triangles — orientation changes only the candidate-wedge shape."""
    import random

    from agenticknowledgegraphconstructionsystem_spark.operators.graph import (
        triangle_counts,
    )

    rng = random.Random(7)
    edges = sorted({tuple(sorted(rng.sample(range(40), 2))) for _ in range(220)})
    df = spark.createDataFrame(edges, "src long, dst long")
    by_deg = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(df, degree_orient=True).collect()
    }
    by_id = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(df, degree_orient=False).collect()
    }
    assert by_deg == by_id and by_deg


@pytest.mark.slow
def test_pagerank_tol_early_stop_is_exact_prefix(spark):
    """Early stop is a pure prefix: stopping after k iterations yields
    bit-identical scores to a tol-free run with iters=k — convergence
    mode changes how many rounds run, never what is computed."""
    from agenticknowledgegraphconstructionsystem_spark.operators import graph

    # symmetric 4-cycle + chord; the integer L1 delta decays ~x0.57/iter
    und = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    early = {
        r["node"]: r["pr"]
        for r in graph.pagerank_fixed_point(df, iters=30, tol=10_000_000).collect()
    }
    k = graph.LAST_PAGERANK_ITERS
    assert k < 30  # converged under the cap (trace: delta < 1e7 by iter 20)
    fixed = {
        r["node"]: r["pr"]
        for r in graph.pagerank_fixed_point(df, iters=k).collect()
    }
    assert graph.LAST_PAGERANK_ITERS == k
    assert early == fixed


def test_hits_matches_numpy_power_iteration(spark):
    """HITS vs an independent numpy mutual-reinforcement loop on a
    seeded random digraph: same max-normalization, per-score tolerance
    + identical rank order; hub≠authority roles distinguish (a pure
    out-pointer is a hub with zero authority and vice versa)."""
    import random

    import numpy as np

    from agenticknowledgegraphconstructionsystem_spark.operators.graph import (
        hits_scores,
    )

    rng = random.Random(11)
    n = 40
    edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(160)
                    if True})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits_scores(df, iters=8).collect()}

    A = np.zeros((n, n))
    for a, b in edges:
        A[a, b] = 1.0
    h = np.ones(n)
    for _ in range(8):
        a_vec = A.T @ h
        if a_vec.max() > 0:
            a_vec = a_vec / a_vec.max()
        h = A @ a_vec
        if h.max() > 0:
            h = h / h.max()
    nodes = sorted({x for e in edges for x in e})
    for v in nodes:
        gh, ga = got[v]
        assert abs(gh - h[v]) < 1e-9 and abs(ga - a_vec[v]) < 1e-9
    # rank order identical on both axes
    want_h = sorted(nodes, key=lambda v: (-h[v], v))
    got_h = sorted(nodes, key=lambda v: (-got[v][0], v))
    assert want_h == got_h


def test_hits_star_roles(spark):
    """A star u→{v1..v4}: u is the unique hub (authority 0), the leaves
    are the authorities (hub 0) — the role split PageRank can't see."""
    from agenticknowledgegraphconstructionsystem_spark.operators.graph import (
        hits_scores,
    )

    df = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "src long, dst long"
    )
    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits_scores(df, iters=4).collect()}
    assert got[0] == (1.0, 0.0)
    for v in range(1, 5):
        assert got[v] == (0.0, 1.0)
