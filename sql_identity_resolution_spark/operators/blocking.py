"""Stage 20: delta values → members-for-values (the blocking join) → group sizes
with the max_group_size skew guard → anchor election → star edges.

Reference: ``sql/common/20_build_edges_incremental.sql`` and
``sql/duckdb/core/idr_run.py:283-367``. Scale notes:

- The members join (J2 in SURVEY §2.3) is THE blocking join — it shuffles both
  sides on ``(identifier_type, identifier_value_norm)``. Hot keys are first
  capped by the reference's ``max_group_size`` guard (groups above the cap never
  produce edges, only an audit row), and what survives is ≤ cap so AQE's skew
  split handles residual imbalance. ``salt_buckets`` additionally pre-salts the
  delta-values side for pathological inputs.
- Anchor (star) edges: N−1 edges per group instead of N² pairwise
  (docs/scale_considerations.md:15) — this is the reference's core algorithmic
  optimization and we keep it: groupBy-min anchor + one equi-join back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sql_identity_resolution_spark.config import DEFAULT_MAX_GROUP_SIZE, EngineConfig

BLOCK_KEY = ["identifier_type", "identifier_value_norm"]


def delta_identifier_values(identifiers_filtered: DataFrame, entities_delta: DataFrame) -> DataFrame:
    """DISTINCT block keys present in this run's delta (idr_run.py:283-289):
    identifiers of delta entities only — a semi-join then distinct."""
    return (
        identifiers_filtered.join(
            entities_delta.select("entity_key").distinct(), "entity_key", "left_semi"
        )
        .select(*BLOCK_KEY)
        .filter(F.col("identifier_value_norm").isNotNull())
        .distinct()
    )


def members_for_delta_values(
    identifiers_filtered: DataFrame, delta_values: DataFrame, salt_buckets: int = 0
) -> DataFrame:
    """All members (existing + delta) of every delta block key
    (sql/common/20:19-26). This is the blocking join: identifiers_all ⋈ delta
    values on the block key.

    delta_values is usually far smaller than identifiers_all; when it fits the
    broadcast threshold Catalyst broadcasts it and the big side never shuffles.
    ``salt_buckets>0`` is unnecessary for the semi-join form (no row explosion)
    and kept for API parity with the scored path.
    """
    return identifiers_filtered.join(delta_values, BLOCK_KEY, "left_semi").select(
        "table_id", "entity_key", *BLOCK_KEY
    )


def group_sizes(members: DataFrame, sample_n: int = 5) -> DataFrame:
    """Per block key: COUNT, MIN (anchor), first-N ordered sample keys
    (idr_run.py:300-310 — ``list_slice(LIST(entity_key ORDER BY entity_key),1,5)``).

    This agg runs BEFORE the max_group_size guard splits out degenerate blocks
    (that's its job), so it must never materialize a full group in memory:
    the N-key sample comes from a ``row_number ≤ N`` window — the sort is
    external (spills), each task streams sorted rows and keeps only N, so a
    10⁸-member hot key costs a disk sort, not an executor OOM; count/min/
    sample then come from ONE hash aggregation over the already-partitioned
    windowed stream (``collect_list`` skips the NULLed rows beyond N, so it
    holds ≤N elements per key). One pass over members, one exchange total —
    the previous two-aggregation + join form scanned members twice and
    planned three exchanges (plans/r06/group_sizes_*.txt)."""
    w = Window.partitionBy(*BLOCK_KEY).orderBy("entity_key")
    return (
        members.withColumn("_rn", F.row_number().over(w))
        .groupBy(*BLOCK_KEY)
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("entity_key").alias("anchor_entity_key"),
            F.sort_array(
                F.collect_list(F.when(F.col("_rn") <= sample_n, F.col("entity_key")))
            ).alias("sample_keys"),
        )
    )


def group_stats(members: DataFrame) -> DataFrame:
    """count + MIN anchor per block key — ONE map-side-combining hash agg, no
    sort. This is the pipeline's hot-path form; the audit sample is computed
    separately for just the (tiny) skipped-group set."""
    return members.groupBy(*BLOCK_KEY).agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min("entity_key").alias("anchor_entity_key"),
    )


def sample_keys_for(
    members: DataFrame, block_keys: DataFrame | None, sample_n: int = 5
) -> DataFrame:
    """First-N sorted member keys per block, for the given block keys only
    (``None`` = all blocks — driver-query parity path). The row_number window
    streams an external sort and keeps N rows per key — bounded memory even on
    a degenerate block; semi-joining to the skipped set first means the
    pipeline only ever sorts the handful of blocks it is about to audit."""
    sliced = members
    if block_keys is not None:
        sliced = members.join(block_keys.select(*BLOCK_KEY), BLOCK_KEY, "left_semi")
    w = Window.partitionBy(*BLOCK_KEY).orderBy("entity_key")
    return (
        sliced.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= sample_n)
        .groupBy(*BLOCK_KEY)
        .agg(F.sort_array(F.collect_list("entity_key")).alias("sample_keys"))
    )


def _rules_df(spark: SparkSession, cfg: EngineConfig) -> DataFrame:
    rows = [
        (r.rule_id, r.identifier_type, int(r.max_group_size or DEFAULT_MAX_GROUP_SIZE), r.match_strategy, float(r.threshold), r.scorer)
        for r in cfg.active_rules()
    ]
    return spark.createDataFrame(
        rows,
        "rule_id string, identifier_type string, max_group_size int, match_strategy string, threshold double, scorer string",
    )


def split_by_group_size(
    spark: SparkSession,
    cfg: EngineConfig,
    sizes: DataFrame,
    run_id: str,
    members: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(valid_groups, skipped_audit_rows). Groups above the rule's
    max_group_size are excluded from edge building and logged
    (idr_run.py:313-355; reason EXCEEDED_MAX_GROUP_SIZE).

    Audit sample keys: taken from a ``sample_keys`` column when ``sizes``
    carries one, else computed on demand from ``members`` for the skipped
    blocks ONLY (the valid 99.99% never pay the sample sort)."""
    rules = F.broadcast(_rules_df(spark, cfg))
    joined = sizes.join(rules, "identifier_type", "inner")
    valid = joined.filter(F.col("group_size") <= F.col("max_group_size"))
    over = joined.filter(F.col("group_size") > F.col("max_group_size"))
    if "sample_keys" not in sizes.columns:
        if members is not None:
            over = over.join(sample_keys_for(members, over), BLOCK_KEY, "left")
        else:
            over = over.withColumn("sample_keys", F.lit(None).cast("array<string>"))
    skipped = over.select(
        F.lit(run_id).alias("run_id"),
        "identifier_type",
        "identifier_value_norm",
        "group_size",
        F.col("max_group_size").alias("max_allowed"),
        F.col("sample_keys").cast("string").alias("sample_entity_keys"),
        F.lit("EXCEEDED_MAX_GROUP_SIZE").alias("reason"),
        F.current_timestamp().alias("skipped_at"),
    )
    return valid, skipped


def _salted_block_join(groups: DataFrame, members: DataFrame, salt_buckets: int) -> DataFrame:
    """Physical salting with IDENTICAL output to the plain equi-join on the
    block key: the group side is 1 row per block — replicating it across
    ``salt_buckets`` synthetic sub-keys is free, while the (possibly hot)
    member side hashes into sub-keys, splitting a degenerate block across
    ``salt_buckets`` partitions. Explicit fallback for non-AQE deployments
    (AQE skew-join does this adaptively; both can coexist)."""
    if salt_buckets and salt_buckets > 1:
        g = groups.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
        )
        m = members.withColumn(
            "_salt", F.pmod(F.xxhash64("entity_key"), F.lit(salt_buckets)).cast("int")
        )
        return g.join(m, [*BLOCK_KEY, "_salt"], "inner").drop("_salt")
    return groups.join(members, BLOCK_KEY, "inner")


def anchor_edges(
    valid_groups: DataFrame,
    members: DataFrame,
    run_ts,
    exact_only: bool = True,
    salt_buckets: int = 0,
) -> DataFrame:
    """Star edges anchor→member for every valid EXACT-rule group
    (sql/common/20:38-56): join members back on the block key, drop the anchor
    row itself. One shuffle on the block key, already co-partitioned with the
    group_sizes agg upstream (Catalyst reuses the exchange)."""
    groups = valid_groups.filter(F.col("group_size") >= 2)
    if exact_only:
        groups = groups.filter(F.col("match_strategy") == "EXACT")
    return (
        _salted_block_join(
            groups.select("rule_id", *BLOCK_KEY, "anchor_entity_key"),
            members.select("entity_key", *BLOCK_KEY),
            salt_buckets,
        )
        .filter(F.col("entity_key") != F.col("anchor_entity_key"))
        .select(
            "rule_id",
            F.col("anchor_entity_key").alias("left_entity_key"),
            F.col("entity_key").alias("right_entity_key"),
            *BLOCK_KEY,
            F.lit(run_ts).cast("timestamp").alias("first_seen_ts"),
            F.lit(run_ts).cast("timestamp").alias("last_seen_ts"),
        )
    )


def dedup_scored_members(
    members: DataFrame, entity_fp: DataFrame, scored_types: list[str]
) -> DataFrame:
    """Collapse identical-payload members within each SCORED block to ONE
    representative (the MIN entity key of the (block, fingerprint) group).

    Identical ``match_text`` ⟹ identical score against every other member, so
    scoring d copies multiplies pair count by d (quadratic under all-pairs)
    for zero information. Dedup-heavy corpora — the LLM-training reality —
    are full of exact duplicates; this turns their blocks from O(d²) to O(1).
    Connectivity for the dropped copies comes from ``duplicate_text_pairs``
    (pre-scored 1.0, linear), so no edge is lost.

    ``entity_fp``: (entity_key, fp) with fp = fingerprint of the scoring
    payload. Non-scored identifier types pass through untouched (EXACT rules
    consume the original members)."""
    scored = members.filter(F.col("identifier_type").isin(scored_types))
    mf = scored.join(entity_fp, "entity_key", "inner")
    return (
        mf.groupBy(*BLOCK_KEY, "fp")
        .agg(F.min(F.struct("entity_key", "table_id")).alias("_r"))
        .select(
            F.col("_r.table_id").alias("table_id"),
            F.col("_r.entity_key").alias("entity_key"),
            *BLOCK_KEY,
        )
    )


def duplicate_text_pairs(entity_fp: DataFrame, delta_keys: DataFrame | None = None) -> DataFrame:
    """(fp, left_entity_key, right_entity_key) linking every entity to its
    fingerprint group's representative — the linear-pair complement of
    ``dedup_scored_members`` (identical payload ⟹ similarity 1.0 under any
    text scorer, so these skip scoring entirely).

    INCR: pass ``delta_keys`` to pair ONLY delta entities — cost ∝ delta.
    The representative is the MIN PRE-EXISTING member when one exists (stable
    across runs: old members are already interconnected through it from
    previous runs), else the min delta member."""
    fp = entity_fp.filter(F.col("fp").isNotNull())
    if delta_keys is not None:
        flagged = fp.join(
            delta_keys.select("entity_key").distinct().withColumn("_d", F.lit(True)),
            "entity_key",
            "left",
        ).withColumn("_d", F.coalesce("_d", F.lit(False)))
    else:
        flagged = fp.withColumn("_d", F.lit(True))
    reps = flagged.groupBy("fp").agg(
        F.min(F.when(~F.col("_d"), F.col("entity_key"))).alias("_old_rep"),
        F.min("entity_key").alias("_any_rep"),
    ).select("fp", F.coalesce("_old_rep", "_any_rep").alias("_rep"))
    return (
        flagged.filter(F.col("_d"))
        .join(reps, "fp", "inner")
        .filter(F.col("entity_key") != F.col("_rep"))
        .select(
            "fp",
            F.least("entity_key", "_rep").alias("left_entity_key"),
            F.greatest("entity_key", "_rep").alias("right_entity_key"),
        )
    )


def candidate_pairs(
    valid_groups: DataFrame,
    members: DataFrame,
    salt_buckets: int = 0,
    all_pairs_max: int = 64,
) -> DataFrame:
    """Candidate pairs for SCORED rules, ordered left<right for dedup across
    bands.

    Blocks of size ≤ ``all_pairs_max`` generate ALL pairs (the classic LSH
    bucket join): full recall within the block — without it, two true
    near-dups B,C sharing a band whose MIN-key anchor A matches neither would
    never be scored in that band (silent recall loss; their clustering would
    depend on B or C anchoring some OTHER shared band). Pair count is ≤
    all_pairs_max²/2 per block — bounded, and LSH band buckets are tiny in
    practice. Blocks larger than the cap fall back to anchor-star (N−1
    pairs): at that size the band key is weakly discriminative and near-dup
    pairs co-occur in many other (smaller) bands, so linear beats quadratic.

    For LSH bands the same conversation pair surfaces in many bands; the pair
    list is deduped on (left,right) BEFORE scoring so each pair is scored
    once. Hot blocks were already removed by max_group_size; ``salt_buckets``
    splits remaining heavy block keys across partitions when AQE skew split
    is unavailable.
    """
    # size-1 blocks emit nothing: dropping them up front shrinks the group
    # side from ~all-distinct-band-keys to just the colliding blocks —
    # usually <5% — often small enough to auto-broadcast
    scored = valid_groups.filter(
        (F.col("match_strategy") == "SCORED") & (F.col("group_size") >= 2)
    )
    m = members.select("entity_key", *BLOCK_KEY)

    small = scored.filter(F.col("group_size") <= all_pairs_max)
    a = _salted_block_join(small.select("rule_id", *BLOCK_KEY), m, salt_buckets).select(
        "rule_id", *BLOCK_KEY, F.col("entity_key").alias("_a")
    )
    pairs_all = (
        a.join(m.withColumnRenamed("entity_key", "_b"), BLOCK_KEY, "inner")
        .filter(F.col("_a") < F.col("_b"))
        .select(
            "rule_id",
            *BLOCK_KEY,
            F.col("_a").alias("left_entity_key"),
            F.col("_b").alias("right_entity_key"),
        )
    )

    large = scored.filter(F.col("group_size") > all_pairs_max)
    pairs_star = (
        _salted_block_join(
            large.select("rule_id", *BLOCK_KEY, "anchor_entity_key"), m, salt_buckets
        )
        .filter(F.col("entity_key") != F.col("anchor_entity_key"))
        .select(
            "rule_id",
            *BLOCK_KEY,
            F.least("anchor_entity_key", "entity_key").alias("left_entity_key"),
            F.greatest("anchor_entity_key", "entity_key").alias("right_entity_key"),
        )
    )
    return pairs_all.unionByName(pairs_star)
