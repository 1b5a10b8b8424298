"""Adversarial SCORED-block recall (VERDICT r2 #3): within one LSH band block,
the MIN-key anchor A matches NEITHER of two true near-dups B,C — anchor-star
alone would never score the B–C pair in this band. The all-pairs path
(blocks ≤ all_pairs_max) must surface and cluster it."""

from __future__ import annotations

from pyspark.sql import functions as F

from sql_identity_resolution_spark.operators import blocking, scoring
from sql_identity_resolution_spark.operators.graph import connected_components

BK = ["identifier_type", "identifier_value_norm"]

NEAR_DUP_1 = "the quick brown fox jumps over the lazy dog near the river bank"
NEAR_DUP_2 = "the quick brown fox jumps over the lazy dog near the river bend"
UNRELATED = "zeta omega kappa completely different vocabulary entirely"


def _fixture(spark):
    # entity A sorts FIRST (anchor by MIN) but matches neither B nor C
    members = spark.createDataFrame(
        [(e, "chat", "LSH_TEXT", "b0:deadbeef") for e in ("aaa", "bbb", "ccc")],
        "entity_key string, table_id string, identifier_type string, identifier_value_norm string",
    ).select("table_id", "entity_key", *BK)
    groups = spark.createDataFrame(
        [("R_LSH", "LSH_TEXT", "b0:deadbeef", 3, "aaa", "SCORED", 0.6, "token_jaccard")],
        "rule_id string, identifier_type string, identifier_value_norm string, "
        "group_size long, anchor_entity_key string, match_strategy string, "
        "threshold double, scorer string",
    )
    texts = spark.createDataFrame(
        [("aaa", UNRELATED), ("bbb", NEAR_DUP_1), ("ccc", NEAR_DUP_2)],
        "entity_key string, match_text string",
    )
    return groups, members, texts


def test_all_pairs_scores_non_anchor_pair_and_clusters_it(spark):
    groups, members, texts = _fixture(spark)
    pairs = blocking.candidate_pairs(groups, members)
    got = {(r["left_entity_key"], r["right_entity_key"]) for r in pairs.collect()}
    assert got == {("aaa", "bbb"), ("aaa", "ccc"), ("bbb", "ccc")}  # full within-block recall

    scored = scoring.score_candidate_pairs(pairs, texts, {"R_LSH": (0.6, "token_jaccard")})
    edges = scoring.scored_edges(scored, "2026-01-01 00:00:00")
    edge_pairs = {(r["left_entity_key"], r["right_entity_key"]) for r in edges.collect()}
    assert edge_pairs == {("bbb", "ccc")}  # anchor pairs fail the threshold

    nodes = members.select("entity_key").distinct()
    cc = connected_components(nodes, edges.select("left_entity_key", "right_entity_key"))
    m = {r["entity_key"]: r["label"] for r in cc.labels.collect()}
    assert m["bbb"] == m["ccc"] == "bbb"  # B,C clustered despite dissimilar anchor
    assert m["aaa"] == "aaa"


def test_star_fallback_above_all_pairs_cap(spark):
    """Blocks above all_pairs_max keep the linear anchor-star shape."""
    groups, members, _ = _fixture(spark)
    pairs = blocking.candidate_pairs(groups, members, all_pairs_max=2)
    got = {(r["left_entity_key"], r["right_entity_key"]) for r in pairs.collect()}
    assert got == {("aaa", "bbb"), ("aaa", "ccc")}  # N-1 anchor pairs only
