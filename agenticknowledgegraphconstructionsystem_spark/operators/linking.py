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
2. **Exact Jaccard verify** on the distinct candidate pairs: each pair
   picks up both names' shingle sets (sorted arrays, broadcast — the
   vocabulary is small), so ``|A∩B|`` is one
   ``size(array_intersect(a, b))`` projection per pair, thresholded by
   integer cross-multiplication.
3. **Connected components** by iterative min-label propagation (the
   GraphFrames-style algorithm, hand-rolled): the symmetric edges plus a
   self-loop per node are cut once, and each round is one min aggregate
   over that adjacency joined to the labels, cut with cut_lineage.  No
   explicit salt: min() is combiner-friendly, so a hot (high-degree)
   vertex's labels partial-aggregate map-side (``build_entities``'
   distinct count, which cannot combine that way, keeps its salt).
4. **Canonical name** per component = member with the highest
   mention_count, tie-broken lexicographically (deterministic; never
   partition order): one window ``min(struct(-mention_count, name))``
   over the component.

At 10^12 docs the entity-name universe is orders of magnitude smaller than
the doc corpus (vocabulary-sized), so these stages run on the *entities*
table, not the mentions fact table; re-pointing mentions is one broadcast
join against the name→canonical mapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..session import cut_lineage


def name_shingles(entities: DataFrame, n: int = 3) -> DataFrame:
    """→ (name, sh): each name's distinct shingles as one sorted array.
    Shingles are char n-grams of ' ' + lower(name) + ' '
    (semantics.char_ngrams), built natively: sequence → transform stays
    in codegen."""
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
    return bound.select("name", F.array_sort(F.array_distinct(grams)).alias("sh"))


#: df cap for the exact-blocking candidate path: char-3grams present in
#: more than this many entity NAMES are excluded from *pairing* (not from
#: the Jaccard verify).  Far above any gate/test-scale df, so the oracle
#: is unaffected; at a 10^6-name dirty vocabulary it stops stop-trigrams
#: ('ing', 'the', ' a ') from emitting df² candidate rows.
DEFAULT_NAME_SHINGLE_MAX_DF = 10_000


def dropped_name_shingles(sets: DataFrame, max_df: int) -> DataFrame:
    """Audit view for the exact-blocking df cut over :func:`name_shingles`
    sets: the (shingle, df) rows excluded from pairing — same never-silent
    contract as dedup.dropped_band_buckets."""
    return (
        sets.select(F.explode("sh").alias("shingle"))
        .groupBy("shingle")
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
    (recall exactly 1, join-blocked, never all pairs).  ``entities`` holds
    one vocabulary-sized row per name (:func:`canonicalize` collapses its
    input first): its shingle sets are broadcast to the candidate pairs.

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
    sets = name_shingles(entities)
    sh = sets.select("name", F.explode("sh").alias("shingle"))
    if max_df is not None:
        # a window count partitions by shingle, the self-join's key, so
        # the join below adds no exchange of its own
        df_ = F.count("*").over(Window.partitionBy("shingle"))
        sh = sh.withColumn("_df", df_).where(F.col("_df") <= max_df)
    a = sh.select(F.col("name").alias("name_a"), "shingle")
    b = sh.select(F.col("name").alias("name_b"), F.col("shingle").alias("shingle_b"))
    cand = (
        a.join(b, F.col("shingle") == F.col("shingle_b"))
        .where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    # each distinct pair picks up both shingle sets, so |A∩B| is one
    # projection: no shingle re-join, no intersection count aggregate
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    union = (F.size("sh_a") + F.size("sh_b")).cast("long") - inter
    # threshold as exact integer cross-multiplication (den·inter >= num·union)
    # so the DuckDB canonicalization oracle replicates the cut bit-for-bit;
    # threshold_fraction bounds the denominator (a non-terminating threshold
    # would overflow the int64 guard — semantics.THRESHOLD_MAX_DEN)
    from ..semantics import threshold_fraction

    num, den = threshold_fraction(threshold)
    sets_a = sets.withColumnsRenamed({"name": "name_a", "sh": "sh_a"})
    sets_b = sets.withColumnsRenamed({"name": "name_b", "sh": "sh_b"})
    return (
        cand.join(F.broadcast(sets_a), "name_a")
        .join(F.broadcast(sets_b), "name_b")
        .select("name_a", "name_b", inter.alias("inter"), union.alias("union"))
        .where(F.col("inter") * den >= F.lit(num) * F.col("union"))
        .select("name_a", "name_b", (F.col("inter") / F.col("union")).alias("jaccard"))
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

    Eager, not lazy: the call itself runs Spark jobs — one cut of the
    adjacency at entry and one cut per round (reliable checkpoint under a
    configured checkpoint dir, localCheckpoint otherwise; SURVEY §4:
    driver-side loop over DataFrame ops, checkpointed).  Local checkpoint
    blocks stay in the session until Spark's context cleaner collects
    the frames that reference them.  Each round's checkpoint job also
    observes how many labels moved, so convergence costs no action of
    its own.
    """
    max_iter = max(int(max_iter), 1)  # the for/else warning needs >= 1 round
    # the adjacency: both directions of every edge plus a self-loop per
    # node, materialized ONCE before the rounds fan out over it.  The
    # self-loop makes a node's own label one of the values its round
    # minimizes over, so a round is a single min aggregate (no join back
    # onto the label table), and it carries the previous label as _old.
    # min() partial-aggregates map-side, so a hot (high-degree) vertex's
    # incoming labels are already combined before the shuffle.
    e = edges.select(F.col("name_a").alias("src"), F.col("name_b").alias("dst"))
    loops = (
        e.select(F.col("src").alias("n"))
        .union(e.select(F.col("dst").alias("n")))
        .distinct()
        .select(F.col("n").alias("src"), F.col("n").alias("dst"))
    )
    adj = cut_lineage(
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).union(loops)
    )
    labels = None
    for it in range(max_iter):
        if labels is None:  # round 0: every node starts as its own hash
            carried = adj.select("src", "dst", F.xxhash64("src").alias("c"))
        else:
            carried = adj.join(
                labels.select(F.col("name").alias("src"), F.col("component").alias("c")),
                "src",
            )
        new_labels = carried.groupBy(F.col("dst").alias("name")).agg(
            F.min("c").alias("component"),
            F.min(F.when(F.col("src") == F.col("dst"), F.col("c"))).alias("_old"),
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
    anyway — so the mapping holds one row per name.  That vocabulary is
    cut once: the similarity edges and the election both read the cut,
    never the caller's (mention-sized) plan."""
    vocab = cut_lineage(
        entities.groupBy("name").agg(F.max("mention_count").alias("mention_count"))
    )
    comp = connected_components(similarity_edges(vocab, threshold), max_iter=max_iter)
    # the labels cover only the linked names, a subset of the vocabulary:
    # broadcast them rather than shuffle both sides
    members = vocab.join(F.broadcast(comp), "name", "left").select(
        "name",
        "mention_count",
        F.coalesce(F.col("component"), F.xxhash64("name")).alias("component"),
    )
    # canonical member = highest mention_count, tie-break smallest name:
    # min(struct(-mc, name)) over the component orders by mention_count
    # DESC then name ASC, so its nm IS the canonical name — one window,
    # no aggregate joined back onto the members.  A NULL count is
    # coalesced to 0: struct ordering puts NULL first, so an uncoalesced
    # NULL would win the election over every real count.
    best = F.min(
        F.struct(
            (-F.coalesce(F.col("mention_count"), F.lit(0))).alias("negmc"),
            F.col("name").alias("nm"),
        )
    ).over(Window.partitionBy("component"))
    return members.select(
        "name", best.getField("nm").alias("canonical_name"), "component"
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
