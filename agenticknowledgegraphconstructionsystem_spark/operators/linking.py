"""Stage 5 — entity linking + canonicalization (D10/D11).

The reference only dedups on exact name (``UNIQUE(name)``, db_init.py:56)
and wish-lists real linking ("Merge 'NeRF' and 'Neural Radiance Fields'",
README.md:1442-1444).  The north_rule requires it, so this module builds it
Spark-first, as ONE path that the kg_canonicalize DuckDB twin replays
(oracles.py):

1. **Exact shared-shingle blocking** over char-3-gram shingles of entity
   names: candidates are the name pairs sharing >= 1 shingle — recall
   exactly 1, still join-blocked (never all pairs).  Shingles present in
   more than ``max_df`` names are cut from *pairing* only, so a
   stop-trigram cannot emit df² candidate rows.
2. **Exact Jaccard verify** on the candidate pairs via a shingle
   intersection count, thresholded by integer cross-multiplication.
3. **Connected components** by iterative min-label propagation (the
   GraphFrames-style algorithm, hand-rolled as join + min-agg per
   round with cut_lineage to cut lineage).  The min() aggregation is
   combiner-friendly, so hot (high-degree) vertices partial-aggregate
   map-side — the built-in analog of the explicit salt used in the entity
   aggregation stage.
4. **Canonical name** per component = member with the highest
   mention_count, tie-broken lexicographically (deterministic; never
   partition order).

At 10^12 docs the entity-name universe is orders of magnitude smaller than
the doc corpus (vocabulary-sized), so these stages run on the *entities*
table, not the mentions fact table; re-pointing mentions is one broadcast
join against the name→canonical mapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..session import cut_lineage


def name_shingles(entities: DataFrame, n: int = 3) -> DataFrame:
    """→ (name, shingle) distinct, plus set size. Shingles are char n-grams
    of ' ' + lower(name) + ' ' (semantics.char_ngrams), built natively:
    sequence → transform → explode stays in codegen."""
    # padded name bound to a column first (HOF-binding lesson, PLANS.md
    # round 5): embedded in the lambda, concat+lower+trim would re-run
    # per gram position; length() in the sequence bound is the second
    # reference that keeps CollapseProject from re-inlining.
    padded = F.concat(F.lit(" "), F.lower(F.trim(F.col("name"))), F.lit(" "))
    bound = entities.select("name", padded.alias("_pn"))
    grams = F.expr(
        f"transform(sequence(1, greatest(length(_pn) - {n - 1}, 1)), "
        f"i -> substring(_pn, i, {n}))"
    )
    return (
        bound.select("name", F.explode(F.array_distinct(grams)).alias("shingle"))
        .distinct()
    )


#: df cap for the exact-blocking candidate path: char-3grams present in
#: more than this many entity NAMES are excluded from *pairing* (not from
#: the Jaccard verify).  Far above any gate/test-scale df, so the oracle
#: is unaffected; at a 10^6-name dirty vocabulary it stops stop-trigrams
#: ('ing', 'the', ' a ') from emitting df² candidate rows.
DEFAULT_NAME_SHINGLE_MAX_DF = 10_000


def dropped_name_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Audit view for the exact-blocking df cut: the (shingle, df) rows
    excluded from pairing — same never-silent contract as
    dedup.dropped_band_buckets."""
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_df)
    )


def similarity_edges(
    entities: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = DEFAULT_NAME_SHINGLE_MAX_DF,
) -> DataFrame:
    """→ (name_a, name_b, jaccard) for the name pairs with exact char-3gram
    Jaccard >= threshold.  Candidates are every pair sharing >= 1 shingle
    (recall exactly 1, join-blocked, never all pairs).

    ``max_df`` is the hot-shingle cut: a shingle shared by df names emits
    df² candidate rows, and at a 10^6-name vocabulary stop-trigrams reach
    df ~ 10^5 → 10^10 rows from one shingle.  Shingles with df > max_df
    are excluded from *pairing* only — the Jaccard verify still counts
    them, so scores are unchanged; recall for j >= 0.5 pairs survives via
    their rarer shared shingles (a pair whose ONLY shared shingles are
    df-heavy boilerplate is exactly the pair the cut is meant to reject).
    Audit with :func:`dropped_name_shingles`; None disables.  The default
    cap is sized far above gate-scale dfs, so the kg_canonicalize oracle
    sees the uncut pair space."""
    sh = name_shingles(entities)
    sizes = sh.groupBy("name").agg(F.count("*").alias("sz"))
    pair_sh = sh
    if max_df is not None:
        dfc = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        pair_sh = sh.join(dfc.where(F.col("_df") <= max_df), "shingle").drop("_df")
    a = pair_sh.select(F.col("name").alias("name_a"), "shingle")
    b = pair_sh.select(F.col("name").alias("name_b"), F.col("shingle").alias("shingle_x"))
    cand = (
        a.join(b, F.col("shingle") == F.col("shingle_x"))
        .where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    sh_b = sh.select(
        F.col("name").alias("nb"), F.col("shingle").alias("shingle_b")
    )
    inter = (
        cand.join(sh.withColumnRenamed("name", "name_a"), "name_a")
        .join(
            sh_b,
            (F.col("name_b") == F.col("nb"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("name_a", "name_b")
        .agg(F.count("*").alias("inter"))
    )
    # threshold as exact integer cross-multiplication (den·inter >= num·union)
    # so the DuckDB canonicalization oracle replicates the cut bit-for-bit;
    # threshold_fraction bounds the denominator (a non-terminating threshold
    # would overflow the int64 guard — semantics.THRESHOLD_MAX_DEN)
    from ..semantics import threshold_fraction

    num, den = threshold_fraction(threshold)
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        inter.join(sizes.withColumnsRenamed({"name": "name_a", "sz": "sz_a"}), "name_a")
        .join(sizes.withColumnsRenamed({"name": "name_b", "sz": "sz_b"}), "name_b")
        .where(F.col("inter") * den >= F.lit(num) * union)
        .withColumn("jaccard", F.col("inter") / union)
        .select("name_a", "name_b", "jaccard")
    )


#: CC rounds before pointer jumping starts: short-diameter graphs (the
#: common case — near-dup name clusters are dense) converge within the
#: first rounds from plain propagation alone and would pay the jump join
#: for nothing (round-3 bench: +10% on kg_canonicalize_20x; same-session
#: A/B pinned the saving); a long chain only starts profiting once labels
#: are >2 hops stale.
JUMP_FROM_ROUND = 2


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """→ (name, component) via min-label propagation + pointer jumping.

    component = min xxhash64 over the component's names.  Each round does
    (a) the neighbor-min propagation step and (b) a label-compression
    ("pointer jumping" / shortcutting) step: every component value is the
    hash of some member node, so joining the new labels back onto the
    previous label table keyed by that hash pulls in that node's own
    (possibly smaller) component — the distance information roughly doubles
    per round, giving O(log diameter) convergence instead of O(diameter)
    (a 31-node chain converges in 11 of the default 20 rounds;
    pytest-pinned).  The
    default max_iter=20 therefore covers any component a real corpus can
    produce; :func:`canonicalize` exposes it for pathological graphs.
    cut_lineage every round cuts the lineage chain (reliable checkpoint
    under a configured checkpoint dir, localCheckpoint otherwise) (SURVEY §4:
    driver-side loop over DataFrame ops, checkpointed).
    Each round's checkpoint job also observes how many labels moved, so
    convergence costs no action of its own.
    """
    max_iter = max(int(max_iter), 1)  # the for/else warning needs >= 1 round
    # materialize the caller's edge pipeline ONCE before fanning out: the
    # symmetrizing union references it twice and the labels cut below is
    # a separate job, so an uncut (typically expensive — shingle blocking
    # + Jaccard verify) edge plan was re-evaluated ~4x before the first
    # round even ran (measured: CC over the same edges checkpointed 3.1 s
    # vs 7.7 s lazy at sf1) — the q_pagerank/q_triangles edge-build
    # discipline, applied at the operator boundary.  ``sym`` itself is
    # two projections of this cut, so it needs no cut of its own.
    edges = cut_lineage(edges)
    sym = edges.select(
        F.col("name_a").alias("src"), F.col("name_b").alias("dst")
    ).unionByName(
        edges.select(F.col("name_b").alias("src"), F.col("name_a").alias("dst"))
    )
    labels = (
        sym.select(F.col("src").alias("name"))
        .distinct()
        .withColumn("component", F.xxhash64("name"))
        .transform(cut_lineage)
    )
    for it in range(max_iter):
        # explicit salting + two-phase min per north_rule: a hot (high-
        # degree) vertex's incoming labels first reduce within
        # (dst, hash(src) % 16) groups, then across salts — min() already
        # partial-aggregates map-side, so this is belt-and-braces for the
        # pathological case where one dst dominates a shuffle partition
        salted = sym.join(labels, sym.src == labels.name).withColumn(
            "salt", F.pmod(F.xxhash64("src"), F.lit(16))
        )
        partial = salted.groupBy("dst", "salt").agg(
            F.min("component").alias("pmin")
        )
        neighbor_min = partial.groupBy("dst").agg(F.min("pmin").alias("nbr_min"))
        # ``_old`` carries the previous label through the round, so the
        # convergence count rides the round's own checkpoint job
        new_labels = (
            labels.join(neighbor_min, labels.name == neighbor_min.dst, "left")
            .select(
                "name",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
                F.col("component").alias("_old"),
            )
        )
        # pointer jump through the PREVIOUS (checkpointed) label table:
        # component is xxhash64 of some member node, so look that node up
        # and take ITS component if smaller — one extra equi-join per round
        # (the label table is vocabulary-sized) buys log-round convergence;
        # skipped for the first JUMP_FROM_ROUND rounds.
        if it >= JUMP_FROM_ROUND:
            lref = labels.select(
                F.xxhash64("name").alias("_lh"), F.col("component").alias("_lc")
            )
            new_labels = (
                new_labels.join(lref, new_labels.component == lref._lh, "left")
                .select(
                    "name",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("_lc"), F.col("component")),
                    ).alias("component"),
                    "_old",
                )
            )
        # convergence is checked every round at no extra job: the count
        # of moved labels is observed by the eager cut that materializes
        # the round anyway (min-label propagation never un-converges, so
        # zero moved labels is the fixed point)
        moved = Observation()
        labels = (
            new_labels.observe(
                moved,
                F.count(F.when(F.col("component") != F.col("_old"), 1)).alias("changed"),
            )
            .transform(cut_lineage)
            .select("name", "component")
        )
        changed = moved.get["changed"]
        if changed == 0:
            break
    else:
        # loop exhausted max_iter while labels were still moving: a
        # component with diameter > max_iter would be returned split
        # (silent under-merge) — surface it instead of hiding it
        import logging

        logging.getLogger(__name__).warning(
            "connected_components: not converged after %d iterations "
            "(%d labels changing at the last round); "
            "components may be split — raise max_iter",
            max_iter,
            changed,
        )
    return labels


def canonicalize(
    entities: DataFrame, threshold: float = 0.5, max_iter: int = 20
) -> DataFrame:
    """→ (name, canonical_name, component).  Canonical member = highest
    mention_count, tie-break lexicographically smallest name.  Singleton
    entities map to themselves.  Edges are exact char-3gram Jaccard
    >= ``threshold`` (:func:`similarity_edges`); max_iter: CC round bound
    (pointer jumping makes 20 cover diameter ~2^20 — see
    :func:`connected_components`).

    ``entities`` may hold a name more than once (``build_entities`` rows
    are keyed by (name, concept_type)); it is collapsed to one row per
    name with its max mention_count — the count the election would pick
    anyway — so the mapping holds one row per name."""
    entities = entities.groupBy("name").agg(
        F.max("mention_count").alias("mention_count")
    )
    edges = similarity_edges(entities, threshold)
    comp = connected_components(edges, max_iter=max_iter)
    members = entities.join(comp, "name", "left").withColumn(
        "component", F.coalesce(F.col("component"), F.xxhash64("name"))
    )
    # canonical member = highest mention_count, tie-break smallest name —
    # ONE map-side-combinable aggregate: min(struct(-mc, name)) orders by
    # mention_count DESC then name ASC, so b.nm IS the canonical name.
    # A NULL count is coalesced to 0: struct ordering puts NULL first, so
    # an uncoalesced NULL would win the election over every real count.
    # (Replaces the former three-step max-struct → top-count join → min
    # agg: same deterministic winner, two fewer shuffles and one fewer
    # evaluation of the members subtree.)
    canon = members.groupBy("component").agg(
        F.min(
            F.struct(
                (-F.coalesce(F.col("mention_count"), F.lit(0))).alias("negmc"),
                F.col("name").alias("nm"),
            )
        ).alias("b")
    ).select("component", F.col("b.nm").alias("canonical_name"))
    return members.join(canon, "component").select(
        "name", "canonical_name", "component"
    )


def repoint_mentions(mentions: DataFrame, mapping: DataFrame) -> DataFrame:
    """Re-point the mentions fact table at canonical entities — one
    broadcast join (mapping is vocabulary-sized)."""
    return (
        mentions.join(
            F.broadcast(mapping.select("name", "canonical_name")), "name", "left"
        )
        .withColumn("name", F.coalesce(F.col("canonical_name"), F.col("name")))
        .drop("canonical_name")
    )


def dedup_repointed_mentions(mentions: DataFrame) -> DataFrame:
    """Collapse to one row per (url, name) after canonical re-pointing.

    When two surface forms in the same doc merge (e.g. 'row batch' +
    'batch'), :func:`repoint_mentions` leaves duplicate (url, name) rows;
    un-deduplicated they double-count sum_relevance_pct in build_entities
    and multiplicatively inflate the shared-concept join in relationship
    discovery.  Keeper = highest relevance_pct, tie-broken earliest pos,
    then concept_type/context — a single map-side-combinable max(struct)
    (same best-of pattern as build_doc_concept_edges), never partition
    order."""
    best = F.max(
        F.struct(
            F.col("relevance_pct").alias("r"),
            (-F.col("pos")).alias("negpos"),
            F.col("concept_type").alias("ct"),
            F.col("context").alias("cx"),
        )
    ).alias("b")
    return (
        mentions.groupBy("url", "name")
        .agg(best)
        .select(
            "url",
            "name",
            F.col("b.ct").alias("concept_type"),
            F.col("b.r").alias("relevance_pct"),
            (-F.col("b.negpos")).cast("int").alias("pos"),
            F.col("b.cx").alias("context"),
        )
    )
