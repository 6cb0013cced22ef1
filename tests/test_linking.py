"""Entity-linking tests — alias-join precedence, ambiguity resolution,
default-row misses, shuffle-free plan (SURVEY.md J1/J5; FIXTURES.md F3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deep_reason_spark.datagen import alias_dict_df
from deep_reason_spark.operators.linking import link_mentions, link_triples
from deep_reason_spark.vocab import entity_id


def _mentions(spark, names):
    return spark.createDataFrame([(n,) for n in names], "mention string")


def test_exact_and_case_insensitive_match(spark):
    out = {
        r.mention: r
        for r in link_mentions(
            _mentions(spark, ["Ada Lovelace", "ada lovelace"]), alias_dict_df(spark)
        ).collect()
    }
    eid = entity_id("Ada Lovelace")
    assert out["Ada Lovelace"].entity_id == eid and out["Ada Lovelace"].linked
    assert out["ada lovelace"].entity_id == eid  # lowercase key, sampling.py:175-223


def test_alias_links_to_canonical(spark):
    [r] = link_mentions(_mentions(spark, ["Ada"]), alias_dict_df(spark)).collect()
    assert r.canonical_name == "Ada Lovelace"
    assert r.entity_id == entity_id("Ada Lovelace")


def test_miss_gets_default_row_not_dropped(spark):
    # reference returns an empty-default row on miss (sampling.py:216-222)
    [r] = link_mentions(_mentions(spark, ["Zzz Qqq"]), alias_dict_df(spark)).collect()
    assert not r.linked
    assert r.entity_id.startswith("unk-")
    assert r.canonical_name == "Zzz Qqq"


def test_link_score_values(spark):
    """link_mentions' per-row confidence: prior + 1.0 on a case-insensitive
    exact match, prior + covered length on a prefix alias, a null prior
    counted as 0, and 0.0 on a miss."""
    d = spark.createDataFrame(
        [
            ("Ada Lovelace", "e-ada", "Ada Lovelace", 0.5),
            ("Ada", "e-ada", "Ada Lovelace", 0.5),
            ("Charles Babbage", "e-cb", "Charles Babbage", None),
            ("Charles", "e-cb", "Charles Babbage", None),
        ],
        "alias string, entity_id string, canonical_name string, prior double",
    )
    names = ["Ada Lovelace", "ADA LOVELACE", "Ada", "Charles Babbage",
             "Charles", "Zzz Qqq"]
    got = {r.mention: (r.link_score, r.linked)
           for r in link_mentions(_mentions(spark, names), d).collect()}
    assert got == {
        "Ada Lovelace": (1.5, True),               # exact
        "ADA LOVELACE": (1.5, True),               # case difference
        "Ada": (0.5 + 3 / 12, True),               # prefix alias
        "Charles Babbage": (1.0, True),            # exact, null prior
        "Charles": (pytest.approx(7 / 15), True),  # prefix, null prior
        "Zzz Qqq": (0.0, False),                   # miss: null canonical
    }


def test_ambiguous_alias_resolved_deterministically(spark):
    d = spark.createDataFrame(
        [
            ("Mercury", "e-planet", "Mercury Planet", 0.5),
            ("Mercury", "e-element", "Mercury Element", 0.9),
        ],
        "alias string, entity_id string, canonical_name string, prior double",
    )
    [r] = link_mentions(_mentions(spark, ["mercury"]), d).collect()
    assert r.entity_id == "e-element"  # higher prior wins
    # rerun → same answer (determinism)
    [r2] = link_mentions(_mentions(spark, ["mercury"]), d).collect()
    assert r2.entity_id == r.entity_id


def test_link_triples_both_sides(spark):
    t = spark.createDataFrame(
        [("Ada", "developed", "Query Engine", "d", 0, "r", "p", "c", "s")],
        "subject string, predicate string, object string, document_id string, "
        "order_id int, repo string, path string, commit string, content_sha256 string",
    )
    [r] = link_triples(t, alias_dict_df(spark)).collect()
    assert r.subject_canonical == "Ada Lovelace"
    assert r.object_canonical == "Query Engine"
    assert r.subject_id == entity_id("Ada Lovelace")
    assert r.object_id == entity_id("Query Engine")


def test_fact_side_plan_is_broadcast_only(spark):
    """The corpus-scale side must not shuffle: plan has BroadcastHashJoin
    and no SortMergeJoin/Exchange hash-partitioning of the mention side."""
    m = _mentions(spark, ["Ada", "Alan Turing", "nobody"])
    plan = link_mentions(m, alias_dict_df(spark))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
