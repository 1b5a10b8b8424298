"""Pairwise similarity scoring gate for SCORED (LSH/fuzzy) rules.

The reference's rules are all EXACT (a shared normalized value IS the match);
this module is the additive fuzzy layer BASELINE.json mandates: LSH band keys
produce *candidate* blocks, candidate pairs are scored, and only pairs ≥
rule.threshold become edges. Exact rules never pass through here (score ≙ 1.0
by construction).

One scoring path: pairs are deduped on (left,right) BEFORE fetching texts (a
pair found by 6 bands is scored once); token sets attach via two
broadcast-or-shuffle equi-joins against the entity-text table; the default
token_jaccard scorer is a JVM expression, other scorers are Arrow-batched
pandas UDFs. Score histograms per block feed the per-partition lineage table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_identity_resolution_spark.functions.similarity import pair_scorer_udf


SCORING_TEXT_MAX_CHARS = 1500  # shuffle bound: texts attach to EVERY candidate
# pair twice; near-dup transcripts agree on their prefix, so the cap trades
# negligible score drift for an 8x smaller pair shuffle at scale.


def _int_tokens(capped_text_col):
    """Distinct whitespace tokens hashed to int32 — the token-set
    representation of the default token_jaccard scorer, which compares token
    SETS: hash tokens on the ENTITY side (one pass over entities) and ship
    compact arrays instead of raw text. Element width IS shuffle width, so
    4-byte tokens halve it vs int64 (31 usable bits — ANSI mode forbids the
    overflowing 64→32 cast, so mask first). A truncation collision needs two
    distinct tokens of the SAME pair to collide (~|L|·|R|/2^31 ≈ 3e-5 for
    transcript sizes) and then shifts |∩| by 1 — orders of magnitude inside
    the threshold margin, and deterministic across runs/parallelism."""
    return F.array_distinct(
        F.transform(
            F.filter(F.split(capped_text_col, " "), lambda t: F.length(t) > 0),
            lambda t: F.xxhash64(t).bitwiseAND(F.lit(0x7FFFFFFF)).cast("int"),
        )
    )


def score_candidate_pairs(
    pairs: DataFrame,
    entity_texts: DataFrame,
    rule_meta: dict[str, tuple[float, str]],
    text_col: str = "match_text",
    broadcast_texts: bool = False,
    texts_unique: bool = False,
) -> DataFrame:
    """pairs: (rule_id, identifier_type, identifier_value_norm,
    left_entity_key, right_entity_key) — possibly with duplicates across
    bands. Returns scored UNIQUE pairs with ``threshold``, ``scorer`` and
    ``score``.

    Dedup keeps the lowest band's block key (deterministic MIN) so edge
    provenance is stable run-to-run.

    ``rule_meta`` ({rule_id: (threshold, scorer)}): the dedup shuffle
    carries only (rule_id, keys, provenance) and threshold/scorer attach
    AFTER dedup via a broadcast join — the band-duplicated pair stream is
    the widest row-count shuffle in the pipeline, so keeping constant-per-
    rule payload out of it is a direct shuffle-byte cut. It also names the
    scorers to run, one pass each (deriving them from the data would cost
    a job).

    ``broadcast_texts``: hint the tokenized entity side into a broadcast
    join. The token arrays attached to every pair are the pipeline's biggest
    shuffle BYTE source; when the entity-text table fits the broadcast budget
    (caller decides — see EngineConfig.score_broadcast_max_entities) the pair
    stream never reshuffles at all. At 10^9+ entities leave it off and the
    classic shuffle equi-join runs instead."""
    uniq = pairs.groupBy("rule_id", "left_entity_key", "right_entity_key").agg(
        F.min("identifier_type").alias("identifier_type"),
        F.min("identifier_value_norm").alias("identifier_value_norm"),
    )
    meta_df = pairs.sparkSession.createDataFrame(
        [(rid, float(t), s) for rid, (t, s) in rule_meta.items()],
        "rule_id string, threshold double, scorer string",
    )
    uniq = uniq.join(F.broadcast(meta_df), "rule_id", "inner")
    scorers = sorted({s for _, s in rule_meta.values()})
    jvm_only = set(scorers) <= {"token_jaccard"}

    # explicit 1-row-per-entity contract: duplicate entity rows would
    # otherwise fan out one scored row per duplicate; collapse
    # deterministically to the MAX text. Skipped when the
    # caller proves uniqueness (every contributing source declares
    # SourceTable.match_text_unique): the defensive agg is a corpus-wide
    # sort-aggregate over FULL texts, built once per join side — the single
    # hottest avoidable plan node at scale (+2,000 task-s / +55 s wall at
    # 400k conversations, local[32], measured round 4).
    if not texts_unique:
        entity_texts = entity_texts.groupBy("entity_key").agg(F.max(text_col).alias(text_col))
    capped = F.substring(F.col(text_col), 1, SCORING_TEXT_MAX_CHARS)
    if jvm_only:
        rep = _int_tokens(capped)
    else:
        rep = capped
    lt = entity_texts.select(F.col("entity_key").alias("left_entity_key"), rep.alias("_lt"))
    rt = entity_texts.select(F.col("entity_key").alias("right_entity_key"), rep.alias("_rt"))
    if broadcast_texts:
        lt, rt = F.broadcast(lt), F.broadcast(rt)
    withtext = uniq.join(lt, "left_entity_key", "inner").join(rt, "right_entity_key", "inner")

    parts = []
    for name in scorers:
        subset = withtext.filter(F.col("scorer") == name)
        if name == "token_jaccard":
            if jvm_only:
                lt_arr, rt_arr = F.col("_lt"), F.col("_rt")
            else:
                lt_arr = F.array_distinct(F.filter(F.split("_lt", " "), lambda t: F.length(t) > 0))
                rt_arr = F.array_distinct(F.filter(F.split("_rt", " "), lambda t: F.length(t) > 0))
            # |∪| derived arithmetically (|L|+|R|−|∩|): allocating the union
            # array per pair just to take its size was the single hottest
            # expression in the pipeline (memory-bandwidth-bound, didn't
            # scale with cores). Subexpression elimination shares the one
            # array_intersect between the two references.
            inter = F.size(F.array_intersect(lt_arr, rt_arr))
            denom = F.size(lt_arr) + F.size(rt_arr) - inter
            score = F.when(denom == 0, F.lit(1.0)).otherwise(
                inter.cast("double") / denom.cast("double")
            )
            parts.append(subset.withColumn("score", score))
        else:
            udf = pair_scorer_udf(name)
            parts.append(subset.withColumn("score", udf(F.col("_lt"), F.col("_rt"))))
    if not parts:
        return withtext.withColumn("score", F.lit(0.0)).drop("_lt", "_rt")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.drop("_lt", "_rt")


def scored_edges(scored_pairs: DataFrame, run_ts) -> DataFrame:
    """Pairs passing their rule threshold, shaped like edges_new
    (sql/common/01_ddl_outputs.sql:5-13 edge schema + score column)."""
    return scored_pairs.filter(F.col("score") >= F.col("threshold")).select(
        "rule_id",
        "left_entity_key",
        "right_entity_key",
        "identifier_type",
        "identifier_value_norm",
        F.lit(run_ts).cast("timestamp").alias("first_seen_ts"),
        F.lit(run_ts).cast("timestamp").alias("last_seen_ts"),
    )


def score_histogram(scored_pairs: DataFrame, buckets: int = 10) -> DataFrame:
    """Per block: pair count + bucketed score histogram — the lineage rows the
    north rule requires (block id, pair count, score histogram)."""
    b = (
        scored_pairs.withColumn(
            "bucket", F.least(F.lit(buckets - 1), F.floor(F.col("score") * buckets)).cast("int")
        )
        .groupBy("identifier_type", "identifier_value_norm", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        b.groupBy("identifier_type", "identifier_value_norm")
        .agg(
            F.sum("n").alias("pair_count"),
            F.to_json(F.map_from_entries(F.sort_array(F.collect_list(F.struct("bucket", "n"))))).alias(
                "score_histogram"
            ),
        )
    )
