"""Configuration-as-data: the engine's "query language".

The reference drives the whole pipeline from metadata tables
(``/root/reference/sql/common/00_ddl_meta.sql:4-68``): ``source_table``, ``rule``,
``identifier_mapping``, ``identifier_exclusion``, ``survivorship_rule``, ``source``
(trust ranks), ``run_state``. We keep the same shapes as plain dataclasses; the
expression fields (``entity_key_expr``, ``identifier_value_expr``, ``attribute_expr``)
are SQL expressions evaluated with ``F.expr`` against the per-source DataFrame —
the same splice-expressions-from-metadata trick, natively supported by Catalyst.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

DEFAULT_MAX_GROUP_SIZE = 10_000  # reference default: sql/common/00_ddl_meta.sql:37


@dataclass
class SourceTable:
    """≙ idr_meta.source_table (sql/common/00_ddl_meta.sql:4-12).

    ``path`` points at a parquet file/dir; alternatively pass ``reader`` for a
    custom loader (e.g. the transcripts signature source, an Iceberg table, a view).
    """

    table_id: str
    entity_key_expr: str
    watermark_column: str
    path: Optional[str] = None
    reader: Optional[Callable[[SparkSession], DataFrame]] = None
    delta_reader: Optional[Callable[[SparkSession, object], DataFrame]] = None
    watermark_lookback_minutes: int = 0
    is_active: bool = True
    # source-declared contract: this source emits AT MOST ONE match_text row
    # per entity key. entity_key is always table_id-prefixed (see
    # extract.entity_key_col), so when every active text-bearing source
    # declares this, the unioned text table is globally unique per entity and
    # the scoring paths skip their defensive one-row-per-entity dedup — a
    # corpus-wide sort-aggregate over full texts (measured: +2,000 task-s at
    # 400k conversations, the single hottest avoidable plan node). Sources
    # that derive one row per entity by construction (the transcripts
    # signature build groups by conv_id) set it; dirty/unknown sources leave
    # it False and pay the dedup.
    match_text_unique: bool = False

    def load(self, spark: SparkSession) -> DataFrame:
        if self.reader is not None:
            return self.reader(spark)
        if self.path is None:
            raise ValueError(f"source_table {self.table_id}: need path or reader")
        return spark.read.parquet(self.path)

    def load_delta(self, spark: SparkSession, since) -> DataFrame:
        """Entity rows whose watermark ≥ ``since`` — the INCR unit of work.

        Derived sources (e.g. transcripts signatures) supply ``delta_reader``
        so the expensive derivation runs ONLY over delta entities instead of
        being recomputed corpus-wide and filtered after (the filter would
        prune the UDF but not the corpus-wide aggregation feeding it). Plain
        tables get a pushed-down watermark predicate."""
        from pyspark.sql import functions as F

        if self.delta_reader is not None:
            return self.delta_reader(spark, since)
        return self.load(spark).filter(F.col(self.watermark_column) >= F.lit(since))


@dataclass
class Rule:
    """≙ idr_meta.rule (sql/common/00_ddl_meta.sql:30-40).

    ``match_strategy``:
      - ``EXACT``    — reference behavior: equal normalized value ⇒ edge.
      - ``SCORED``   — new fuzzy layer: blocks are *candidate* groups; pairs must
        pass a vectorized similarity ``scorer`` ≥ ``threshold`` to become edges
        (per BASELINE.json north_star: LSH bands + batched scoring).
    """

    rule_id: str
    identifier_type: str
    rule_name: str = ""
    is_active: bool = True
    priority: int = 1
    canonicalize: str = "NONE"  # NONE | LOWERCASE | UPPERCASE | DIGITS
    allow_hashed: bool = True
    require_non_null: bool = True
    max_group_size: int = DEFAULT_MAX_GROUP_SIZE
    match_strategy: str = "EXACT"  # EXACT | SCORED
    scorer: str = "token_jaccard"  # token_jaccard | levenshtein_ratio | jaro_winkler
    threshold: float = 0.0


@dataclass
class IdentifierMapping:
    """≙ idr_meta.identifier_mapping (sql/common/00_ddl_meta.sql:42-48).

    ``identifier_value_expr`` is a SQL expression over the source's entity-level
    DataFrame. If ``explodes=True`` the expression must produce ``array<string>``
    and each element becomes one identifier row (used for LSH band-key arrays,
    where values are pre-prefixed ``band_idx:hash`` so bands never cross-match).
    """

    table_id: str
    identifier_type: str
    identifier_value_expr: str
    is_hashed: bool = False
    explodes: bool = False


@dataclass
class Exclusion:
    """≙ idr_meta.identifier_exclusion (sql/duckdb/core/00_ddl_all.sql:181-194)."""

    identifier_type: str
    identifier_value_pattern: str
    match_type: str = "EXACT"  # EXACT | LIKE
    reason: str = ""


@dataclass
class AttributeMapping:
    """Golden-profile attribute source (≙ entity_attribute_mapping +
    the DESCRIBE-based column discovery in sql/duckdb/core/idr_run.py:584-594,
    made explicit instead of dynamic).

    ``strategy``: TRUST_RECENCY (trust_rank ASC, recency DESC —
    sql/common/50_build_golden_profile_incremental.sql:50-53) or
    MOST_RECENT (recency DESC only — :74-77).
    """

    attribute_name: str
    table_id: str
    attribute_expr: str
    strategy: str = "MOST_RECENT"  # MOST_RECENT | TRUST_RECENCY


@dataclass
class SourceTrust:
    """≙ idr_meta.source trust ranks (sql/common/50:25-30)."""

    table_id: str
    source_name: str = ""
    trust_rank: int = 9999
    is_active: bool = True


@dataclass
class EngineConfig:
    """Everything one pipeline instance needs. ``warehouse`` is the root dir of the
    versioned catalog (≙ the reference's idr_out/idr_meta persistent schemas)."""

    warehouse: str
    sources: list[SourceTable] = field(default_factory=list)
    rules: list[Rule] = field(default_factory=list)
    mappings: list[IdentifierMapping] = field(default_factory=list)
    exclusions: list[Exclusion] = field(default_factory=list)
    attributes: list[AttributeMapping] = field(default_factory=list)
    trust: list[SourceTrust] = field(default_factory=list)
    # the round budget of the whole connected-components call: hash-min
    # probe rounds (at most 8), star rounds and the one-task union-find each
    # count one. The reference's MAX_ITERS (idr_run.py:37) is 30 hash-min
    # rounds alone; here, after a full probe, 60 leaves the star loop the 50
    # rounds it was always granted when the probe's rounds were not counted
    # (a config written for that meaning that still sets 30 leaves it 22).
    # RunResult.lp_iterations reports what a run used: 1 for the driver
    # union-find or a contraction.
    max_iters: int = 60
    # Small-graph fast path: when the graph to cluster fits under this many
    # edges (a bounded, Arrow-batched collect — ~40 MB of keys at the
    # default, union-find ~1.1 s), run union-find on the driver instead of
    # paying the distributed loop's O(diameter) scheduler round-trips
    # (~10-15 s fixed floor). The gate is the MEASURED edge count (the same
    # size-adaptive principle as AQE's broadcast threshold), so corpus-scale
    # FULL graphs always exceed it and run distributed; INCR subgraphs are
    # delta-sized by design and usually qualify regardless of corpus size.
    # Same labels either way, limit-guarded collect with automatic
    # distributed fallback. 0 disables.
    cc_local_max_edges: int = 500_000
    salt_buckets: int = 0  # >0: salt the blocking join on hot keys
    # concurrent writers in the output_write flush pool (stores + the three
    # observability appends). Overlapping IO-heavy write jobs cuts flush wall
    # time, but each in-flight job holds executor memory for its shuffle/agg;
    # on heap-constrained single-JVM deployments (local mode shares one heap
    # across all executor threads) lower this before lowering heap headroom —
    # the flush degrades gracefully to serial at 1. 8 covers the seven store
    # sinks + observability appends now that membership's write joins the
    # pool (two-phase publish) instead of running after it.
    flush_max_workers: int = 8
    # SCORED blocks up to this size score ALL pairs (full within-block recall);
    # larger blocks fall back to anchor-star — see blocking.candidate_pairs
    scored_all_pairs_max: int = 64
    # collapse identical-match_text members to one representative per SCORED
    # block before pair generation (quadratic → constant on dup-heavy blocks)
    # — see blocking.dedup_scored_members / duplicate_text_pairs
    scored_dedup_identical_text: bool = True
    # link the dropped identical-text copies with linear pre-scored (1.0)
    # pairs. Safe default. Set False when an active EXACT rule already blocks
    # on a full-text hash (e.g. transcripts' R_FULL_TEXT_EXACT): the exact
    # star edges make these pairs redundant, and skipping them keeps the edge
    # table lean on dup-heavy corpora.
    emit_duplicate_text_pairs: bool = True
    # broadcast the tokenized entity-text side of the pair-scoring join when
    # the text store holds at most this many entities — the token arrays are
    # the pipeline's biggest shuffle byte source, and broadcasting them keeps
    # the deduped pair stream map-side (the shuffle-join alternative
    # exchanges it twice, the second time carrying a token array per row).
    # Beyond the cap the join strategy is Spark's: AQE still broadcasts a
    # text side under spark.sql.autoBroadcastJoinThreshold (64 MB, see
    # session.py), so the shuffle equi-join runs for stores above both (the
    # 10^9-entity path). The broadcast build is ~150 B/entity of int tokens
    # for sources declaring match_text_unique; others pay the defensive
    # per-entity text dedup inside it.
    score_broadcast_max_entities: int = 5_000_000
    # INCR edge MERGE strategy: merge-on-read appends a delta-sized update
    # part for matched buckets instead of rewriting them (≙ Iceberg
    # write.merge.mode=merge-on-read). The edge MERGE's only matched-row
    # change is refreshing last_seen_ts on re-observed pairs, and those pairs
    # scatter across every bucket — copy-on-write makes each INCR micro-batch
    # rewrite O(edge table); merge-on-read makes it O(delta) with reads
    # reconciling against the (delta-sized, AQE-broadcast) update-part keys.
    # Compaction folds a bucket back to one part at max_parts_per_bucket.
    edge_merge_on_read: bool = True
    # INCR membership/clusters/golden sink strategy: these are full-row
    # delete+inserts keyed by entity_key / resolved_id whose impacted-cluster
    # semantics legitimately touch rows in most buckets every micro-batch —
    # copy-on-write made the membership commit rewrite 32/32 buckets
    # (O(table) write IO) even for a 0.1% delta, the last O(corpus) term on
    # the chained-INCR path (round-4 measurement). Merge-on-read appends the
    # delta-sized update rows instead; reads reconcile by key (newest wins,
    # commit-ordered), compaction bounds part counts per bucket.
    store_merge_on_read: bool = True
    # force the INCR subgraph build to the safe 1-hop + both-endpoint edge
    # restriction even when the steady-state invariant (no committed edge
    # crosses clusters) would allow the 1-scan fast form. The pipeline also
    # falls back AUTOMATICALLY for the first INCR run after the MATCH
    # semantics change (rules/mappings/exclusions — see match_signature):
    # edges committed under the old semantics may cross clusters that the new
    # semantics would not have formed, and the fast form would silently drop
    # edges whose right endpoint is impacted but left is not.
    incr_safe_edge_restriction: bool = False
    # INCR: materialize the post-merge edge store once (lazy localCheckpoint)
    # when its pointer row count is at or below this — the subgraph build and
    # the confidence edge-stats both scan edges_current after the merge, and
    # each scan re-pays the parquet read plus the merge-on-read
    # reconciliation anti-join. One materialization serves all consumers;
    # blocks are freed when the frame goes unreferenced. 0 disables. The cap
    # exists because at true corpus scale (10^9+ edge rows) pinning the store
    # in the block manager is worse than the extra columnar scans — size it
    # to executor storage memory on a cluster.
    incr_edge_materialize_max_rows: int = 50_000_000
    # catalog bucket layout: default modulus for new bucketed tables + optional
    # per-table overrides (big fact tables want many buckets so a small delta's
    # MERGE rewrites a small table fraction; see sources/catalog.py sizing note)
    catalog_buckets: int = 32
    catalog_table_buckets: dict[str, int] | None = None

    def active_rules(self) -> list[Rule]:
        return [r for r in self.rules if r.is_active]

    def rule_for_type(self, identifier_type: str) -> Optional[Rule]:
        for r in self.active_rules():
            if r.identifier_type == identifier_type:
                return r
        return None

    def match_signature(self) -> str:
        """Deterministic digest of the MATCH semantics — everything that
        decides which edges exist: rules (strategy/threshold/canonicalize/
        gates), identifier mappings, exclusions, and each source's identity
        shape (table_id + entity_key_expr; NOT paths — data churn is the
        normal INCR case). The pipeline stores it per committed run and, on
        an INCR run whose signature differs from the last committed one,
        falls back to the safe subgraph edge restriction for that run: edges
        committed under different semantics may violate the no-edge-crosses-
        clusters invariant the fast 1-scan form relies on."""
        import hashlib
        import json as _json

        payload = {
            "rules": sorted(
                (r.rule_id, r.identifier_type, r.is_active, r.priority, r.canonicalize,
                 r.allow_hashed, r.require_non_null, r.max_group_size, r.match_strategy,
                 r.scorer, float(r.threshold))
                for r in self.rules
            ),
            "mappings": sorted(
                (m.table_id, m.identifier_type, m.identifier_value_expr, m.is_hashed, m.explodes)
                for m in self.mappings
            ),
            "exclusions": sorted(
                (e.identifier_type, e.identifier_value_pattern, e.match_type)
                for e in self.exclusions
            ),
            "sources": sorted(
                (s.table_id, s.entity_key_expr, s.is_active) for s in self.sources
            ),
        }
        return hashlib.sha256(_json.dumps(payload, sort_keys=True).encode()).hexdigest()
