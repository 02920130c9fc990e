"""Graph analytics over the materialized KG: PageRank in exact integer
fixed-point arithmetic.

The reference materializes the graph but never ranks it (its top_concepts
view counts mentions, db_init.py:187-197); document ranking over the
citation/co-mention structure is the canonical next query a KG user runs.
Floating-point PageRank can never be gated cross-engine (partial-sum
order changes the ulps); this implementation does every step in int64 —
scores are fixed-point at SCALE = 10^12, the damping factor is the
rational 85/100, and every division is an integer floor — so Spark and
DuckDB produce bit-identical score vectors (gate: kg_pagerank, the
DuckDB twin unrolls the iterations as chained CTEs).

Scale shape (same as connected components, linking.py): per iteration
one join edges⋈scores shuffled on src + one aggregation shuffled on dst;
cut_lineage truncates the growing plan (reliable checkpoint when a
checkpoint dir is set — cluster mode — else localCheckpoint).  Hot (high in-degree) nodes
partial-aggregate map-side — the contribution sum is commutative int
addition.  The dangling-mass term is a scalar aggregate per iteration
(same cost class as the CC convergence check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cut_lineage

#: fixed-point scale: scores sum to ~SCALE; 10^12 keeps every
#: intermediate (85 * score sums) far under 2^53, so even the
#: floor(double-division) form is exact — and under 2^63 for int sums
PAGERANK_SCALE = 10**12
DAMP_NUM, DAMP_DEN = 85, 100  # damping 0.85 as an exact rational

#: iterations actually executed by the last pagerank_fixed_point call on
#: this driver — observability for the tol early-stop path (pytest pins
#: that a converged graph stops before the iteration cap)
LAST_PAGERANK_ITERS = 0


def comention_edges(
    mentions: DataFrame,
    key: str = "url",
    min_relevance_pct: int | None = None,
    min_shared: int = 2,
    df_cap_frac: float = 0.5,
    df_cap_min: int = 100,
) -> DataFrame:
    """Canonical (da < db) co-mention document edges: docs sharing >=
    ``min_shared`` relevant concepts.  The document-frequency cap cuts
    hot names BEFORE pairing (a name appearing in df docs contributes
    df² pair rows — the pairwise_shared_concepts skew discipline);
    banding redundancy is irrelevant here because the co-mention
    semantics themselves exclude ubiquitous names as non-discriminative.
    Shared by the kg_pagerank / kg_triangles gates (DuckDB twin: the
    mf/nd/dfn/keep/mfk/kept CTEs) and the Pipeline's graph_metrics
    stage."""
    from .. import semantics as S

    min_rel = S.MIN_RELEVANCE_PCT if min_relevance_pct is None else min_relevance_pct
    mf = mentions.where(F.col("relevance_pct") >= min_rel).select(key, "name")
    # df cap computed IN-PLAN (1-row corpus-size aggregate broadcast into
    # the df filter — the exact shape of the DuckDB twin's nd CTE), so
    # building this DataFrame triggers zero driver-side Spark jobs and the
    # whole thing stays one lazy plan.
    nd = mf.select(F.countDistinct(key).alias("n_docs"))
    keep = (
        mf.groupBy("name")
        .agg(F.countDistinct(key).alias("df"))
        .crossJoin(F.broadcast(nd))
        .where(
            F.col("df")
            <= F.greatest(
                F.floor(F.col("n_docs") * F.lit(df_cap_frac)).cast("long"),
                F.lit(int(df_cap_min)).cast("long"),
            )
        )
        .select("name")
    )
    mfk = mf.join(F.broadcast(keep), "name")
    # The pairing join EXPLODES ~df² rows per name out of a small input.
    # Left to itself the planner broadcasts the build side and streams the
    # probe side at SCAN parallelism (1-2 parquet splits), so the entire
    # Σdf² pair generation + partial aggregation runs on 1-2 cores — the
    # measured sf1 killer (83 s single-threaded vs ~3 s parallel).  An
    # explicit repartition on the left endpoint key fixes both halves at
    # once: explicit numPartitions is never AQE-coalesced (the exploding
    # output is invisible to AQE's input-byte estimates), and because
    # HashPartitioning(a.key) satisfies ClusteredDistribution(da, db),
    # the groupBy(da, db) aggregation afterwards needs NO further
    # exchange — one small shuffle of the probe side replaces a
    # single-threaded explosion AND the pair-row shuffle.
    nparts = int(mentions.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    a, b = mfk.repartition(nparts, key).alias("a"), mfk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.name") == F.col("b.name"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}")),
        )
        .groupBy(F.col(f"a.{key}").alias("da"), F.col(f"b.{key}").alias("db"))
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .select("da", "db")
    )


def degree_oriented_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Re-orient an undirected edge list (one row per edge, any
    canonicalization) from the (degree, id)-smaller endpoint to the
    larger one → columns (src, dst).

    This is the standard triangle-enumeration preparation (Latapy 2008;
    Suri & Vassilvitskii WWW'11 map-reduce form): after orienting, every
    node's OUT-degree is bounded by O(sqrt(m)) — a hub of degree d keeps
    its d edges, but they all point INTO it, so the wedge join
    (a,b)⋈(b,c) pivots only on nodes with out-edges and its fan-out is
    bounded by arboricity, not by d².  A star K_{1,d} produces ZERO
    wedge candidates instead of ~d²/4 under mid-id canonical ordering
    (pinned by the hub-skew pytest).

    Total order: (deg(u), u) < (deg(v), v) — a strict total order on
    endpoints, so each undirected edge keeps exactly one orientation and
    the triangle a≺b≺c is stored as (a,b), (b,c), (a,c), found exactly
    once by the wedge join.  Cost: one degree aggregation + two equi
    joins on the endpoint key — all map-side combinable / shuffled on
    node id, no skew beyond the graph's own degree distribution.
    """
    deg = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    e = (
        edges.join(
            deg.select(F.col("node").alias(src), F.col("deg").alias("_deg_s")), src
        ).join(
            deg.select(F.col("node").alias(dst), F.col("deg").alias("_deg_d")), dst
        )
    )
    src_first = (F.col("_deg_s") < F.col("_deg_d")) | (
        (F.col("_deg_s") == F.col("_deg_d")) & (F.col(src) < F.col(dst))
    )
    return e.select(
        F.when(src_first, F.col(src)).otherwise(F.col(dst)).alias("src"),
        F.when(src_first, F.col(dst)).otherwise(F.col(src)).alias("dst"),
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    degree_orient: bool = True,
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph
    given as canonical edges (one row per edge, distinct) — the
    clustering primitive (cohesive KG neighborhoods vs star hubs).

    The ordered-edge join: with every edge stored once as (lo, hi) under
    a strict total order ≺, a triangle a≺b≺c is found exactly once as
    (a,b)⋈(b,c) wedge closed by (a,c) — no double counting, no
    post-dedup.  By default the order is (degree, id)
    (:func:`degree_oriented_edges`), which bounds the wedge fan-out by
    arboricity instead of O(d²) on hub vertices; the DuckDB gate twin
    applies the identical re-orientation CTE.  ``degree_orient=False``
    keeps the caller's id ordering (the counts are identical — order
    choice only changes the candidate-wedge count, pinned by pytest).

    → (node, n_triangles), one row per node appearing in ≥ 1 triangle.
    """
    oriented = (
        degree_oriented_edges(edges, src, dst)
        if degree_orient
        else edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    if degree_orient:
        # the oriented edge list feeds all THREE branches of the triangle
        # self-join; Spark performs no cross-branch common-subexpression
        # elimination, so without materialization the degree aggregation +
        # two orientation joins would run three times (same-session
        # interleaved min-of-3 at sf0.1: 13.7 s lazy vs 9.0 s
        # checkpointed).  At cluster scale the equivalent move is
        # committing the oriented edge table to storage first.
        oriented = oriented.transform(cut_lineage)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    # Closing join as SHUFFLED HASH, not sort-merge: the wedge side is
    # ~|wedges| rows (353M at sf1 — two orders of magnitude above the
    # edge list) and SMJ's sort of it dominated the query; hashing the
    # edge-list side per partition skips that sort entirely and, unlike a
    # broadcast close, never holds the whole edge list per executor
    # (build side is |E|/nparts rows — cluster-safe).  Interleaved A/B at
    # sf1, min-of-2: SHJ 9.6 s vs SMJ 22.2 s vs broadcast close 17.1 s.
    e3 = oriented.hint("shuffle_hash").alias("e3")
    tri = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    # ONE pass over the triangle rows: explode emits the 3 member nodes
    # in-plan and the count aggregates map-side over ≤|V| keys.  The
    # previous 3-way unionByName of projections of ``tri`` re-evaluated
    # the whole wedge+closing join pipeline per branch (Spark does no
    # cross-branch common-subexpression elimination) and shuffled
    # 3·|triangles| rows into the groupBy — at sf1 (155.7M triangles)
    # that was 3 joins + a 467M-row exchange for the same answer.
    members = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return members.groupBy("node").agg(F.count("*").cast("long").alias("n_triangles"))


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 8,
    tol: int | None = None,
) -> DataFrame:
    """(src, dst) directed edge list (pre-deduplicated) → (node, pr)
    after ``iters`` power iterations, pr an int64 fixed-point score.

    ``tol``: optional early stop — when the L1 delta of the int64 score
    vector between consecutive iterations is <= tol, remaining
    iterations are skipped.  The delta is one scalar aggregate, checked
    every 2nd round (the CC convergence-check discipline: integer power
    iteration never un-converges, so halving the serial job count costs
    at worst one already-converged round).  The gated default stays
    ``iters=8, tol=None`` so the DuckDB unrolled-CTE oracle is
    untouched.  Early stop is a pure prefix: stopping after k iterations
    yields bit-identical scores to a tol-free run with iters=k
    (pytest-pinned) — convergence mode never changes WHAT is computed,
    only how many rounds run.  The integer delta decays geometrically
    (factor ≈ damping·|λ2|), so tol ≈ SCALE·1e-5 typically halves the
    default round count; tol=0 runs to the exact integer fixed point if
    one is reached within ``iters``.

    Per iteration, with N nodes and S = PAGERANK_SCALE:

        contrib(u→v) = floor(pr_u / out_deg_u)
        dangling     = Σ pr_u over nodes with no out-edges
        pr'_v = floor(15·S / (100·N)) + floor(85·dangling / (100·N))
                + floor(85 · Σ_in contrib / 100)

    Every term is an integer function of integers — deterministic across
    engines, partitionings, and runs.  Floors leak a little mass per
    round (scores sum to slightly under S), identically in both engines.
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .transform(cut_lineage)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pr", F.lit(0).cast("long"))
    out_deg = edges.groupBy(src).agg(F.count("*").alias("out_deg"))
    e = (
        edges.join(out_deg, src)
        .select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"), "out_deg")
        .transform(cut_lineage)
    )
    base = ((DAMP_DEN - DAMP_NUM) * PAGERANK_SCALE) // (DAMP_DEN * n)
    scores = nodes.withColumn(
        "pr", F.lit(PAGERANK_SCALE // n).cast("long")
    ).transform(cut_lineage)
    has_out = out_deg.select(F.col(src).alias("node"))
    # the dangling SET is static even though its mass changes: when it is
    # empty (always true for symmetrized graphs) the per-iteration scalar
    # aggregate is pure overhead — one membership check up front replaces
    # `iters` driver round-trips (measured 16.7 s → ~8 s at sf0.1)
    dangling_nodes = nodes.join(has_out, "node", "left_anti").transform(cut_lineage)
    any_dangling = bool(dangling_nodes.head(1))
    global LAST_PAGERANK_ITERS
    LAST_PAGERANK_ITERS = 0
    for it in range(iters):
        LAST_PAGERANK_ITERS = it + 1
        contribs = e.join(scores, e.e_src == scores.node).select(
            F.col("e_dst").alias("node"),
            F.floor(F.col("pr") / F.col("out_deg")).cast("long").alias("c"),
        )
        in_sum = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        dangling = (
            scores.join(dangling_nodes, "node", "left_semi")
            .agg(F.coalesce(F.sum("pr"), F.lit(0)))
            .first()[0]
            if any_dangling
            else 0
        )
        dang_share = (DAMP_NUM * int(dangling)) // (DAMP_DEN * n)
        new_scores = (
            nodes.join(in_sum, "node", "left")
            .select(
                "node",
                (
                    F.lit(base + dang_share)
                    + F.floor(
                        F.lit(DAMP_NUM) * F.coalesce(F.col("s"), F.lit(0)) / F.lit(DAMP_DEN)
                    )
                )
                .cast("long")
                .alias("pr"),
            )
        )
        # lineage cut (an EAGER materialization — one scheduled job) every
        # 2nd round, not every round: the odd round's join+agg layer rides
        # inside the next cut's job, halving the serial job count at
        # unchanged total compute (scores is referenced ONCE per layer, so
        # nothing is evaluated twice).  Dangling graphs keep the per-round
        # cut — their scalar mass aggregate acts on scores every round and
        # would recompute an uncut layer.  The tol path also keeps it:
        # the odd-round delta check references scores a SECOND time
        # (contribs join + delta join), so an uncut even-round layer would
        # be evaluated twice.
        if any_dangling or tol is not None or it % 2 == 1 or it == iters - 1:
            new_scores = new_scores.transform(cut_lineage)
        if tol is not None and (it % 2 == 1 or it == iters - 1):
            delta = (
                new_scores.alias("n")
                .join(scores.alias("o"), "node")
                .agg(
                    F.coalesce(
                        F.sum(F.abs(F.col("n.pr") - F.col("o.pr"))), F.lit(0)
                    )
                )
                .first()[0]
            )
            scores = new_scores
            if int(delta) <= tol:
                break
        else:
            scores = new_scores
    return scores


def hits_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 8,
) -> DataFrame:
    """Kleinberg's HITS over a directed (src, dst) edge list →
    (node, hub, authority) after ``iters`` mutual-reinforcement rounds,
    max-normalized to 1.0 each half-step: authority(v) = Σ hub of
    in-neighbors, hub(u) = Σ authority of out-neighbors — the classic
    complement to PageRank for link graphs (a nav hub and the page
    everyone cites get DIFFERENT scores here, identical ones there).

    Scores are doubles: the per-round sums are float partial-sum-order
    dependent, so HITS is pytest-verified against an independent numpy
    power iteration (rank order and per-score tolerance) rather than
    hash-gated.
    Max-normalization (not L2) keeps every round's scalar a plain
    ``max`` aggregate.

    Scale shape: per round, one join shuffled on ``src`` + one agg on
    ``dst`` and the mirror pair — the pagerank_fixed_point exchange
    pattern exactly; the normalizing max is a 1-row broadcast
    (crossJoin), never a collect.  Dangling/orphan nodes keep score 0
    from the LEFT joins back to the node set.
    """
    # static inputs pinned ONCE before the loop (the pagerank_fixed_point
    # discipline, graph.py above): uncut, every one of the ``iters``
    # rounds re-derived the node-set distinct (a full shuffle over the
    # edge list) and re-scanned the caller's edge plan — ~4 avoidable
    # full-edge scans per round on a large link graph (round-6 weak).
    e = cut_lineage(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    nodes = cut_lineage(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    hub = nodes.withColumn("h", F.lit(1.0))
    auth = None
    for _ in range(iters):
        a_raw = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("h").alias("a"))
            .withColumnRenamed("dst", "node")
        )
        # cut the PRE-normalization vector: it is referenced twice (the
        # normalizing max aggregate + the main branch), so uncut each
        # half-step re-evaluated the e⋈scores join for the max — cutting
        # here makes both references read one node-sized checkpoint, and
        # the normalized outputs downstream are then cheap projections
        # over it (no end-of-round cut needed).
        auth = cut_lineage(
            nodes.join(a_raw, "node", "left").select(
                "node", F.coalesce(F.col("a"), F.lit(0.0)).alias("a")
            )
        )
        amax = auth.agg(F.max(F.when(F.col("a") > 0, F.col("a"))).alias("m"))
        auth = auth.crossJoin(F.broadcast(amax)).select(
            "node",
            F.when(F.col("m").isNull(), F.lit(0.0))
            .otherwise(F.col("a") / F.col("m"))
            .alias("a"),
        )
        h_raw = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("a").alias("h"))
            .withColumnRenamed("src", "node")
        )
        hub = cut_lineage(
            nodes.join(h_raw, "node", "left").select(
                "node", F.coalesce(F.col("h"), F.lit(0.0)).alias("h")
            )
        )
        hmax = hub.agg(F.max(F.when(F.col("h") > 0, F.col("h"))).alias("m"))
        hub = hub.crossJoin(F.broadcast(hmax)).select(
            "node",
            F.when(F.col("m").isNull(), F.lit(0.0))
            .otherwise(F.col("h") / F.col("m"))
            .alias("h"),
        )
    return (
        hub.join(auth, "node")
        .select("node", F.col("h").alias("hub"), F.col("a").alias("authority"))
    )
