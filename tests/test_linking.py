"""D10/D11 — entity linking (exact shared-shingle blocking + exact
char-3gram Jaccard verify, the path the kg_canonicalize gate checks
against DuckDB) + connected-components canonicalization, plus per-doc
incremental ingest (which re-runs the canonical election over the grown
entity table)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from agenticknowledgegraphconstructionsystem_spark.operators.entities import build_entities
from agenticknowledgegraphconstructionsystem_spark.operators.linking import (
    canonicalize,
    connected_components,
    repoint_mentions,
    similarity_edges,
)
from agenticknowledgegraphconstructionsystem_spark.plans.pipeline import Pipeline
from agenticknowledgegraphconstructionsystem_spark.semantics import char_ngrams
from agenticknowledgegraphconstructionsystem_spark.sources.pages import synthetic_pages


def _ents(spark, names_counts):
    return spark.createDataFrame(
        [Row(name=n, mention_count=c) for n, c in names_counts]
    )


def _true_jaccard(a, b):
    A, B = set(char_ngrams(a)), set(char_ngrams(b))
    return len(A & B) / len(A | B)


_ALIAS_NAMES = [
    "spark", "sparks", "table scan", "table-scan", "hash join",
    "hash-join", "hashjoin", "sort merge join", "sort-merge join",
    "unrelated thing", "sprk", "tbl scan",
]
#: a dense alias family: every pair is above the threshold, so the edge
#: set is all 190 pairs
_DENSE_FAMILY = [f"gradient boosting v{i}" for i in range(20)]


def test_similarity_edges_match_brute_force(spark):
    """Edges and Jaccard values equal the Python brute force over every
    pair, on three inputs: the alias/decoy names, the round-2 precision/
    recall fixture, and a 20-member dense family (which canonicalizes to
    one component).  The inputs run in one test, not parametrized, so the
    test keeps its id."""
    from test_round2_hardening import _fixture_entities

    inputs = {
        "aliases": _ents(spark, [(n, 1) for n in _ALIAS_NAMES]),
        "fixture": _fixture_entities(spark),
        "dense": _ents(spark, [(n, 1) for n in _DENSE_FAMILY]),
    }
    for label, ents in inputs.items():
        names = sorted(r["name"] for r in ents.collect())
        got = {
            (r["name_a"], r["name_b"]): r["jaccard"]
            for r in similarity_edges(ents).collect()
        }
        exp = {}
        for i, a in enumerate(names):
            for b in names[i + 1 :]:
                j = _true_jaccard(a, b)
                if j >= 0.5:
                    exp[(a, b)] = j
        assert set(got) == set(exp), label
        for k, v in exp.items():
            assert abs(got[k] - v) < 1e-9, (label, k)
    assert len(exp) == len(_DENSE_FAMILY) * (len(_DENSE_FAMILY) - 1) // 2
    comps = {r["component"] for r in canonicalize(inputs["dense"]).collect()}
    assert len(comps) == 1


def test_connected_components_chain_and_islands(spark):
    edges = spark.createDataFrame(
        [
            Row(name_a="a", name_b="b", jaccard=0.9),
            Row(name_a="b", name_b="c", jaccard=0.9),
            Row(name_a="x", name_b="y", jaccard=0.9),
        ]
    )
    comp = {r["name"]: r["component"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"]
    assert comp["x"] == comp["y"]
    assert comp["a"] != comp["x"]


def test_connected_components_runs_no_count(spark, monkeypatch):
    """Convergence is observed on each round's checkpoint job: no round
    pays a separate DataFrame.count() action."""
    edges = spark.createDataFrame(
        [Row(name_a=f"n{i}", name_b=f"n{i + 1}") for i in range(7)]
        + [Row(name_a="x", name_b="y")]
    )

    def no_count(self):
        raise AssertionError("connected_components ran DataFrame.count()")

    monkeypatch.setattr(type(edges), "count", no_count)
    comp = {r["name"]: r["component"] for r in connected_components(edges).collect()}
    assert len(comp) == 10
    assert len({comp[f"n{i}"] for i in range(8)}) == 1
    assert comp["x"] == comp["y"] != comp["n0"]


def test_canonicalize_picks_highest_mention_count(spark):
    ents = _ents(
        spark,
        [("spark", 100), ("sparks", 3), ("hash join", 10), ("hash-join", 2),
         ("hashjoin", 1), ("lonely", 5)],
    )
    mapping = {r["name"]: r["canonical_name"] for r in canonicalize(ents).collect()}
    assert mapping["sparks"] == "spark"
    assert mapping["spark"] == "spark"
    assert mapping["hash-join"] == "hash join"
    assert mapping["hashjoin"] == "hash join"
    assert mapping["lonely"] == "lonely"  # singleton maps to itself


def test_canonicalize_null_mention_count_never_wins(spark):
    """A NULL mention_count ranks as 0: min(struct(-mc, name)) would
    otherwise sort the NULL first and elect it canonical."""
    ents = spark.createDataFrame(
        [("spark", None), ("sparks", 3), ("hash join", None), ("hash-join", None)],
        "name string, mention_count long",
    )
    mapping = {r["name"]: r["canonical_name"] for r in canonicalize(ents).collect()}
    assert mapping["spark"] == "sparks"
    assert mapping["sparks"] == "sparks"
    # all-NULL component: every count ties at 0, smallest name wins
    assert mapping["hash-join"] == mapping["hash join"] == "hash join"


def test_canonicalize_one_row_per_name_across_concept_types(spark):
    """build_entities keys rows by (name, concept_type), so a name typed
    two ways arrives twice; the mapping still holds one row per name and
    elects by the name's larger count ('spark': 1 as technology, 3 as
    concept, beating 'sparks' at 2)."""
    mentions = spark.createDataFrame(
        [
            ("u1", "spark", "technology"),
            ("u2", "spark", "concept"),
            ("u3", "spark", "concept"),
            ("u4", "spark", "concept"),
            ("u1", "sparks", "technology"),
            ("u2", "sparks", "technology"),
            ("u3", "hash join", "technology"),
        ],
        "url string, name string, concept_type string",
    ).withColumn("relevance_pct", F.lit(50))
    ents = build_entities(mentions).select("name", "mention_count")
    assert ents.count() == 4
    rows = canonicalize(ents).collect()
    assert sorted(r["name"] for r in rows) == ["hash join", "spark", "sparks"]
    mapping = {r["name"]: r["canonical_name"] for r in rows}
    assert mapping == {"spark": "spark", "sparks": "spark", "hash join": "hash join"}


def test_repoint_mentions(spark):
    ents = _ents(spark, [("spark", 100), ("sparks", 1)])
    mapping = canonicalize(ents)
    mentions = spark.createDataFrame(
        [
            Row(url="u1", name="sparks", concept_type="method", relevance_pct=50, pos=1, context="c"),
            Row(url="u2", name="other", concept_type="method", relevance_pct=50, pos=1, context="c"),
        ]
    )
    got = {r["url"]: r["name"] for r in repoint_mentions(mentions, mapping).collect()}
    assert got == {"u1": "spark", "u2": "other"}


@pytest.mark.slow
def test_incremental_ingest(spark, tmp_path):
    all_pages = synthetic_pages(spark, 60)
    batch1 = all_pages.where("url < 'https://example.org/paper/00040'")

    p = Pipeline(spark, str(tmp_path / "inc"), run_id="i1")
    p.ingest_increment(batch1)
    r1 = p.run(batch1)
    t1 = r1["triples"].count()
    assert "extract" not in p._recomputed  # ingest committed it

    # second increment: full set, only the 20 new urls get extracted
    p2 = Pipeline(spark, str(tmp_path / "inc"), run_id="i2")
    new_docs = p2.ingest_increment(all_pages)
    assert new_docs.count() == 20
    assert p2.store.read("extract").count() == 60
    r2 = p2.run(all_pages)
    assert "extract" not in p2._recomputed
    # mentions advanced INCREMENTALLY: the delta's mentions were appended
    # at ingest time, the committed 40-doc detection was never re-run
    assert "mentions" not in p2._recomputed
    assert "entities" in p2._recomputed  # corpus-level aggregates rebuilt
    # the appended mention lineage rows record delta-sized input (20 docs)
    lin = p2.lineage().where("stage = 'mentions' and run_id = 'i2'")
    assert lin.count() >= 1
    assert {r["input_rows"] for r in lin.collect()} == {20}

    # equals a from-scratch run over all 60 docs
    p3 = Pipeline(spark, str(tmp_path / "full"), run_id="f")
    r3 = p3.run(all_pages)
    t2 = {(r["subj"], r["pred"], r["obj"]) for r in r2["triples"].collect()}
    t3 = {(r["subj"], r["pred"], r["obj"]) for r in r3["triples"].collect()}
    assert t2 == t3
    assert t1 <= len(t2)

    # a no-op increment (all urls already extracted) invalidates NOTHING
    p4 = Pipeline(spark, str(tmp_path / "inc"), run_id="i3")
    assert p4.ingest_increment(all_pages).count() == 0
    assert p4.store.is_committed("triples")
    assert p4.store.is_committed("canonical_map")
