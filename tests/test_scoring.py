"""The one pair-scoring path (`operators/scoring.score_candidate_pairs`).

- NULL match_text never crashes scoring and never passes a threshold: the
  Jaccard of a NULL token array is NULL, which the ≥threshold filter drops.
- Its two join shapes, the broadcast text attach (entity side at or below
  ``score_broadcast_max_entities``) and the shuffle equi-join above it,
  publish the same graph.

The duplicate-text-row collapse (one scored row per pair when a source has
several text rows per entity) is covered by
``test_texts_unique.test_classic_duplicate_texts_still_dedup_by_default``.
"""

from __future__ import annotations

import tempfile
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from sql_identity_resolution_spark import EngineConfig, IDRPipeline
from sql_identity_resolution_spark.datagen import generate_transcripts, write_transcripts
from sql_identity_resolution_spark.operators import scoring
from sql_identity_resolution_spark.sources.transcripts import transcripts_source

RULE_META = {"r1": (0.3, "token_jaccard")}


def _pairs(spark):
    return spark.createDataFrame(
        [
            ("r1", "a", "b", "minhash_band", "k1"),
            ("r1", "a", "n", "minhash_band", "k1"),  # right side NULL text
            ("r1", "n", "b", "minhash_band", "k1"),  # left side NULL text
            ("r1", "m", "n", "minhash_band", "k1"),  # both NULL
        ],
        "rule_id string, left_entity_key string, right_entity_key string, "
        "identifier_type string, identifier_value_norm string",
    )


def _texts(spark):
    return spark.createDataFrame(
        [("a", "hello world foo"), ("b", "hello world bar"), ("n", None), ("m", None)],
        "entity_key string, match_text string",
    )


@contextmanager
def _no_auto_broadcast(spark):
    """Only hinted joins broadcast: without this, a test-sized text side is
    auto-broadcast and the shuffle shape never runs."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def test_null_match_text_pairs_never_pass(spark):
    scored = scoring.score_candidate_pairs(_pairs(spark), _texts(spark), RULE_META)
    passing = {
        (r["left_entity_key"], r["right_entity_key"], r["score"])
        for r in scored.filter(F.col("score") >= F.col("threshold")).collect()
    }
    assert passing == {("a", "b", 0.5)}


@pytest.mark.parametrize("broadcast", [True, False])
def test_text_attach_join_shape(spark, broadcast):
    with _no_auto_broadcast(spark):
        scored = scoring.score_candidate_pairs(
            _pairs(spark), _texts(spark), RULE_META, broadcast_texts=broadcast
        )
        plan = scored._jdf.queryExecution().executedPlan().toString()
        scores = {(r["left_entity_key"], r["right_entity_key"]): r["score"] for r in scored.collect()}
    # the rule-metadata join is always a broadcast; the two text attaches
    # are broadcasts only when asked for
    assert plan.count("BroadcastHashJoin") == (3 if broadcast else 1)
    assert scores[("a", "b")] == 0.5


def _full_run(spark, turns_path, **overrides):
    tmp = tempfile.mkdtemp(prefix="idr_score_join_")
    source, rules, mappings = transcripts_source("chat", turns_path)
    cfg = EngineConfig(
        warehouse=f"{tmp}/wh", sources=[source], rules=rules, mappings=mappings, **overrides
    )
    pipe = IDRPipeline(spark, cfg)
    res = pipe.run("FULL")
    edges = {
        (r["rule_id"], r["left_entity_key"], r["right_entity_key"])
        for r in pipe.catalog.read("identity_edges_current").collect()
    }
    membership = {
        r["entity_key"]: r["resolved_id"]
        for r in pipe.catalog.read("identity_resolved_membership_current").collect()
    }
    return res, edges, membership


def test_broadcast_and_shuffle_scoring_publish_same_graph(spark):
    tmp = tempfile.mkdtemp(prefix="idr_score_join_corpus_")
    turns = write_transcripts(generate_transcripts(n_conversations=500, seed=11), tmp)["turns"]
    res_b, edges_b, mem_b = _full_run(spark, turns)
    with _no_auto_broadcast(spark):
        res_s, edges_s, mem_s = _full_run(spark, turns, score_broadcast_max_entities=0)
    assert res_b.status == res_s.status == "SUCCESS"
    assert res_b.candidate_pairs_scored > 0
    assert res_s.candidate_pairs_scored == res_b.candidate_pairs_scored
    assert edges_s == edges_b
    assert mem_s == mem_b
