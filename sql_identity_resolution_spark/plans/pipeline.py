"""End-to-end pipeline orchestration: Configure → Extract → Match → Cluster.

Faithful to the reference's stage order and control topology
(``sql/duckdb/core/idr_run.py:180-820``; stage list in
``docs/concepts/architecture.md:25-45``): the only data crossing to the driver
are preflight metadata, stage row counts, and the LP convergence scalar.

Durability & resume: all durable tables live in the snapshot-versioned Catalog
(Iceberg ``MERGE INTO`` on real deployments). ``run_state`` (watermarks) only
advances after every output MERGE commits — so a crashed run re-executes from
the last committed snapshot boundary and every sink MERGE is idempotent
(re-merging the same edges/membership is a no-op), which is exactly the
reference's resume contract (S9, sql/common/60_update_run_state.sql).

Dry-run (idr_run.py:38,502-552,705-746): the full pipeline runs, production
MERGEs are skipped, and a NEW/MOVED/UNCHANGED diff is written to
``dry_run_results``/``dry_run_summary``. Unlike the reference's DuckDB driver
(which merges edges even when dry) we skip the edge MERGE too and cluster over
the view ``edges_current ∪ edges_new`` — "no production writes" made literal.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_identity_resolution_spark.config import EngineConfig
from sql_identity_resolution_spark.operators import blocking, confidence, extract, golden, graph, membership, scoring
from sql_identity_resolution_spark.sources.catalog import Catalog

# durable table names (≙ idr_out.* / idr_meta.run_state)
T_EDGES = "identity_edges_current"
T_MEMBERSHIP = "identity_resolved_membership_current"
T_CLUSTERS = "identity_clusters_current"
T_GOLDEN = "golden_profile_current"
T_RUN_STATE = "run_state"
# match-semantics signature of the last committed run (config.match_signature):
# an INCR run under a CHANGED signature takes the safe subgraph edge
# restriction — edges committed under old rules may cross clusters
T_CONFIG_STATE = "engine_config_state"
T_RUN_HISTORY = "run_history"
T_STAGE_METRICS = "stage_metrics"
T_SKIPPED = "skipped_identifier_groups"
T_AUDIT = "rule_match_audit_current"
T_DRY_RESULTS = "dry_run_results"
T_DRY_SUMMARY = "dry_run_summary"
T_METRICS = "metrics_export"
T_LINEAGE = "partition_lineage"
T_IDENTIFIER_QUALITY = "identifier_quality"
# incremental stores: per-entity derived artifacts maintained by delta MERGE so
# an INCR run never recomputes them corpus-wide (extract/signature-build cost
# ∝ delta). All three are bucketed on entity_key ⇒ O(delta·buckets) rewrites.
T_IDENTIFIERS = "identifiers_current"
T_ENTITY_TEXTS = "entity_texts_current"
T_ENTITY_ATTRS = "entity_attributes_current"

_EDGE_SCHEMA = (
    "rule_id string, left_entity_key string, right_entity_key string, "
    "identifier_type string, identifier_value_norm string, "
    "first_seen_ts timestamp, last_seen_ts timestamp"
)
_MEMBERSHIP_SCHEMA = "entity_key string, resolved_id string, updated_ts timestamp"
_CLUSTERS_SCHEMA = (
    "resolved_id string, cluster_size bigint, edge_diversity bigint, match_density double, "
    "confidence_score double, primary_reason string, updated_ts timestamp"
)
_RUN_STATE_SCHEMA = (
    "table_id string, last_watermark_value timestamp, last_run_id string, last_run_ts timestamp"
)


def _text_fingerprints(texts: DataFrame) -> DataFrame:
    """(entity_key, fp): fingerprint of the scoring payload. Empty/NULL texts
    get a NULL fp and so stay unique — an empty-vs-empty pair is not evidence
    of identity."""
    return texts.select(
        "entity_key",
        F.when(F.length(F.trim(F.col("match_text"))) > 0, F.xxhash64("match_text")).alias("fp"),
    )


def _ckpt_count(df: DataFrame, name: str) -> tuple[DataFrame, int]:
    """Eager localCheckpoint with the row count folded into the SAME job via
    an Observation — every materialize-then-count pair in the run would
    otherwise cost a second action (a scheduler barrier that prices in as
    parallelism-independent time: ~40 sequential actions per run is the
    largest Amdahl term the scaling bench sees). Returns (checkpointed, n)."""
    from pyspark.sql import Observation

    obs = Observation(f"{name}_{uuid.uuid4().hex[:8]}")
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return out, int(obs.get["n"])


class ConvergenceError(RuntimeError):
    """Raised when label propagation fails to converge within max_iters.

    The reference HARD-FAILS here (``sql/databricks/core/IDR_Run.py:493-494``
    raises on non-convergence) — publishing membership built from
    non-converged labels would silently commit wrong clusters. The failed run
    is still recorded in run_history (status=FAILED) before raising. In FULL
    mode every production write (including edges) is deferred to the
    output_write flush, so nothing is published; in INCR mode only the
    idempotent edge MERGE has run (edges are valid facts independent of
    clustering). The watermark never advances, so the next run resumes
    cleanly from the prior snapshot boundary."""


@dataclass
class RunResult:
    run_id: str
    mode: str
    dry_run: bool
    entities_processed: int = 0
    identifiers_extracted: int = 0
    values_excluded: int = 0
    groups_skipped: int = 0
    edges_created: int = 0
    candidate_pairs_scored: int = 0
    clusters_impacted: int = 0
    lp_iterations: int = 0
    lp_converged: bool = True
    # which CC execution path labeled this run's subgraph (CCResult.path):
    # "local_union_find", or the distributed steps that ran joined by "+"
    # ("contracted", "hash_min", "hash_min+star+contracted", ...) — lets a
    # bench reader tell a distributed-LP timing from the driver fast path
    cc_path: str = ""
    # CCResult.rounds: one entry per distributed CC iteration, in order —
    # hash-min {"sec", "delta"}, star {"sec", "pairs"}, one-task union-find
    # {"sec", "edges_in", "pairs_out"}; empty on the driver path
    cc_rounds: list = field(default_factory=list)
    duration_seconds: float = 0.0
    stage_seconds: dict = field(default_factory=dict)
    # bucketed-table commit stats of this run ({table: {n_buckets,
    # touched_buckets, rewritten_fraction}}) — see Catalog.last_commit_stats
    store_commits: dict = field(default_factory=dict)
    warnings: list = field(default_factory=list)
    status: str = "SUCCESS"


class IDRPipeline:
    def __init__(self, spark: SparkSession, cfg: EngineConfig):
        self.spark = spark
        self.cfg = cfg
        self.catalog = Catalog(
            spark,
            cfg.warehouse,
            n_buckets=cfg.catalog_buckets,
            table_buckets=cfg.catalog_table_buckets or {},
        )
        # fail-fast warm pass: analyze every source plan + config expression
        # now (pure Catalyst analysis, zero Spark jobs) so construction
        # surfaces schema typos early and the first run()'s preflight is
        # Catalyst-warm (cold-JVM preflight measured 2.6-3.6 s, warm 0.2 s).
        # Errors are swallowed — run() re-validates and raises the same
        # named ValueError, keeping the documented error surface there.
        if os.environ.get("SPARK_GRAFT_PREFLIGHT_WARM", "1") != "0":
            try:
                self.preflight(check_data=True, _warm=True)
            except Exception:
                pass

    # ------------------------------------------------------------- preflight
    def preflight(self, check_data: bool = True, _warm: bool = False) -> list[str]:
        """Config + data validation before any pipeline stage runs
        (≙ idr_run.py:126-171 / IDR_ValidateMetadata.py): every mapping needs
        an active rule; every active source must LOAD, carry its watermark
        column, and resolve its entity-key / identifier / attribute
        expressions against the actual schema — a typo'd path or missing
        column fails HERE with a named error, not mid-pipeline. An empty
        source is a warning (legal, e.g. a quiet INCR slice).

        ``check_data=False`` skips the source loads (pure config check)."""
        warnings: list[str] = []
        rule_types = {r.identifier_type for r in self.cfg.active_rules()}
        map_types = {m.identifier_type for m in self.cfg.mappings}
        for m in self.cfg.mappings:
            if m.identifier_type not in rule_types:
                warnings.append(f"mapping {m.table_id}/{m.identifier_type} has no active rule")
        for t in rule_types - map_types:
            warnings.append(f"rule type {t} has no identifier mapping")
        if not self.cfg.sources:
            raise ValueError("preflight: no sources configured")
        if not self.cfg.active_rules():
            raise ValueError("preflight: no active rules")
        if not check_data:
            return warnings

        def _resolve(df: DataFrame, expr: str, what: str) -> None:
            try:
                df.select(F.expr(expr))  # analysis only — no action
            except Exception as e:
                raise ValueError(f"preflight: {what}: expression {expr!r} does not resolve: {e}") from e

        for st in self.cfg.sources:
            if not st.is_active:
                continue
            try:
                df = st.load(self.spark)
            except Exception as e:
                raise ValueError(
                    f"preflight: source {st.table_id}: failed to load ({st.path or 'reader'}): {e}"
                ) from e
            if st.watermark_column not in df.columns:
                raise ValueError(
                    f"preflight: source {st.table_id}: watermark column "
                    f"{st.watermark_column!r} not in schema {df.columns}"
                )
            _resolve(df, st.entity_key_expr, f"source {st.table_id} entity_key_expr")
            for m in self.cfg.mappings:
                if m.table_id == st.table_id:
                    _resolve(df, m.identifier_value_expr,
                             f"mapping {m.table_id}/{m.identifier_type}")
            for a in self.cfg.attributes:
                if a.table_id == st.table_id:
                    _resolve(df, a.attribute_expr, f"attribute {a.attribute_name}")
            # emptiness warning only for plain tables (a limit-1 parquet scan);
            # derived readers (e.g. transcript signatures) would pay their full
            # aggregation for a limit-1 — not worth it in preflight. The
            # constructor's warm pass (_warm) skips it too: analysis only,
            # zero Spark jobs.
            if st.path is not None and not _warm and df.isEmpty():
                warnings.append(f"source {st.table_id} is empty")
        return warnings

    def _entity_texts(self, loaded: dict[str, DataFrame] | None = None) -> DataFrame | None:
        """(entity_key, match_text) for similarity scoring — sources exposing a
        match_text column (the transcripts signature source always does).

        Side effect: records on ``self._texts_unique`` whether EVERY
        contributing source declares ``match_text_unique`` — entity_key is
        table_id-prefixed so cross-source collisions are impossible, making
        the union globally one-row-per-entity. The scoring paths use this to
        skip their defensive per-entity text dedup (a corpus-wide
        sort-aggregate over full texts). Holds for the INCR store view too:
        prior store rows were written from the same declared-unique sources
        and delta keys are anti-joined out before the union."""
        loaded = loaded or {}
        parts = []
        all_unique = True
        for st in self.cfg.sources:
            if not st.is_active:
                continue
            df = loaded.get(st.table_id)
            if df is None:
                df = st.load(self.spark)
            if "match_text" in df.columns:
                all_unique = all_unique and st.match_text_unique
                parts.append(
                    df.select(
                        extract.entity_key_col(st.table_id, st.entity_key_expr).alias("entity_key"),
                        F.col("match_text"),
                    )
                )
        self._texts_unique = all_unique
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _maintain_store(
        self,
        name: str,
        delta_df,
        keys: list[str],
        bucket_col: str,
        mode: str,
        dry_run: bool,
        full_df_fn,
        delta_is_full: bool = False,
        approx_rows: int | None = None,
    ) -> DataFrame:
        """Delta-maintained per-entity store. When the delta IS the full set
        (FULL mode, or INCR with no prior watermark) the store is overwritten
        (bucketed); otherwise delta entities' rows are replaced via bucketed
        delete+insert. Returns the post-merge VIEW immediately; the actual
        commit is DEFERRED to the output_write stage (``_pending_stores``) so
        the hot extract/edge stages never pay store IO — resume stays correct
        because run_state advances after the stores commit (an interrupted run
        re-derives the same delta and re-merges idempotently). dry_run never
        enqueues a commit."""
        cat = self.catalog
        if mode == "FULL" or delta_is_full or not cat.exists(name):
            full_df = delta_df if (mode == "FULL" or delta_is_full) else full_df_fn()
            if not dry_run:
                self._pending_stores.append(
                    (name, "overwrite", full_df, keys, bucket_col, approx_rows)
                )
            return full_df
        prior = cat.read(name)
        view = prior.join(delta_df.select(*keys).distinct(), keys, "left_anti").unionByName(
            delta_df.select(*prior.columns)
        )
        if not dry_run:
            self._pending_stores.append(
                (name, "delete_insert", delta_df, keys, bucket_col, approx_rows)
            )
        return view

    # ------------------------------------------------------------------- run
    def _last_match_signature(self) -> str | None:
        """match_signature of the last committed run (None if never recorded).
        Driver-side pointer read — zero Spark jobs (the table is one row)."""
        rows = self.catalog.read_rows(T_CONFIG_STATE)
        if not rows:
            return None
        for r in rows:
            if r.get("k") == "match_signature":
                return r.get("v")
        return None

    def run(self, mode: str = "FULL", dry_run: bool = False, run_id: str | None = None) -> RunResult:
        spark, cfg, cat = self.spark, self.cfg, self.catalog
        mode = mode.upper()
        run_sig = cfg.match_signature()
        run_id = run_id or f"run_{datetime.now(timezone.utc).strftime('%Y%m%d%H%M%S')}_{uuid.uuid4().hex[:8]}"
        run_ts = datetime.now(timezone.utc).replace(tzinfo=None)
        res = RunResult(run_id=run_id, mode=mode, dry_run=dry_run)
        cat.last_commit_stats.clear()  # stats are per-run
        t0 = time.time()
        stage_rows: list[tuple] = []
        self._pending_stores: list[tuple] = []
        self._pending_appends: list[tuple] = []
        self._ids_count_from_pointer = False
        self._texts_unique = False

        def stage(name):
            class _S:
                def __enter__(s):
                    s.t = time.time()
                    # tag every Spark job fired inside this stage so the UI /
                    # REST API attributes shuffle bytes + task time per stage
                    spark.sparkContext.setJobGroup(name, f"idr stage {name}", False)
                    return s

                def __exit__(s, *a):
                    spark.sparkContext.setJobGroup("", "", False)
                    res.stage_seconds[name] = round(time.time() - s.t, 3)

                def rows(s, n):
                    stage_rows.append((run_id, name, int(n), round(time.time() - s.t, 3), run_ts))

            return _S()

        res.warnings.extend(self.preflight())

        # -------- watermarks (S2/S9) — driver-side pointer read, zero jobs
        # (run_state is one row per source; the Spark read+collect it replaces
        # was a fixed scheduler round-trip at the head of every run)
        last_wm = {
            r["table_id"]: r["last_watermark_value"]
            for r in (cat.read_rows(T_RUN_STATE) or [])
        }

        # load each source exactly once (derived sources are expensive);
        # INCR loads only the delta slice — the stores supply the rest
        loaded = extract.load_sources(spark, cfg, mode, last_wm)
        delta_is_full = mode == "FULL" or not any(
            last_wm.get(st.table_id) is not None for st in cfg.sources if st.is_active
        )

        # -------- entities delta (stage 10)
        with stage("entity_extraction") as s:
            entities_delta = extract.build_entities_delta(spark, cfg, run_id, mode, last_wm, loaded)
            # ONE checkpoint job carries the row count AND the per-source max
            # watermark (the run_state advance) via a single Observation — the
            # separate end-of-run groupBy(table_id).max() job is gone
            from pyspark.sql import Observation

            active_ids = [st.table_id for st in cfg.sources if st.is_active]
            obs = Observation(f"entities_{uuid.uuid4().hex[:8]}")
            aggs = [F.count(F.lit(1)).alias("n")] + [
                F.max(F.when(F.col("table_id") == tid, F.col("watermark_value"))).alias(f"wm_{i}")
                for i, tid in enumerate(active_ids)
            ]
            entities_delta = entities_delta.observe(obs, *aggs).localCheckpoint(eager=True)
            vals = obs.get
            res.entities_processed = int(vals["n"])
            wm_by_table = {tid: vals[f"wm_{i}"] for i, tid in enumerate(active_ids)}
            s.rows(res.entities_processed)

        # -------- identifiers (stage 11) + exclusions + identifier store
        with stage("identifier_extraction") as s:
            identifiers_delta = extract.extract_identifiers(spark, cfg, mode, last_wm, loaded)
            # excluded-count via Observation on the anti-join INPUT: one
            # extraction job total — a second count() would re-run the whole
            # (UDF-bearing) extraction just for a metric. In INCR this counts
            # the delta slice (the only rows extracted this run).
            excl_obs = None
            if cfg.exclusions:
                from pyspark.sql import Observation

                excl_obs = Observation("exclusion_input")
                identifiers_delta = identifiers_delta.observe(
                    excl_obs, F.count(F.lit(1)).alias("n_input")
                )
            identifiers_delta = extract.apply_exclusions(spark, identifiers_delta, cfg)
            if mode == "FULL" or delta_is_full:
                # FULL: every identifier row is about to become a blocking-join
                # member, so partition the ONE identifiers materialization on
                # the block key here — group-stats, anchor join and candidate
                # generation all consume exactly this partitioning, which
                # deletes the edge stage's separate members exchange AND its
                # second full-corpus materialization (measured: the two
                # largest avoidable costs of the EXACT-only 10M retail run).
                identifiers_delta = identifiers_delta.repartition(*blocking.BLOCK_KEY)
            # output count folds into the SAME checkpoint job (second
            # Observation) — no separate count() pass over the delta
            identifiers_delta, n_delta_ids = _ckpt_count(identifiers_delta, "identifiers")
            if excl_obs is not None:
                res.values_excluded = excl_obs.get["n_input"] - n_delta_ids
                if res.values_excluded:
                    res.warnings.append(
                        f"{res.values_excluded} identifier values excluded (matched exclusion list)"
                    )
            # store maintenance: FULL overwrites; INCR replaces only delta
            # entities' rows (delete+insert on entity key, bucketed) — the
            # blocking join below consumes the FULL store without ever
            # re-deriving identifiers for unchanged entities.
            identifiers_filtered = self._maintain_store(
                T_IDENTIFIERS,
                identifiers_delta,
                keys=["table_id", "entity_key"],
                bucket_col="entity_key",
                mode=mode,
                dry_run=dry_run,
                delta_is_full=delta_is_full,
                approx_rows=n_delta_ids,
                full_df_fn=lambda: extract.apply_exclusions(
                    spark,
                    extract.extract_identifiers(spark, cfg, "FULL", {}, extract.load_sources(spark, cfg)),
                    cfg,
                ),
            )
            # FULL / first-run: the store view IS the (already counted) delta.
            # INCR: the post-merge total isn't knowable until the store flush
            # commits (replaced-row count lives in the rewritten buckets), so
            # record the delta count now and backfill the exact store total
            # from pointer metadata after the flush — zero table-scan jobs on
            # the INCR critical path either way.
            res.identifiers_extracted = n_delta_ids
            self._ids_count_from_pointer = identifiers_filtered is not identifiers_delta
            s.rows(n_delta_ids)

        # -------- edges (stage 20)
        with stage("edge_building") as s:
            if mode == "FULL" or delta_is_full:
                # FULL: every entity is a delta entity, so delta-values ∘
                # members-for-values is the identity on non-null identifiers —
                # skip the 2 corpus-sized semi-joins + distinct the INCR shape
                # needs (at 10M rows that's three avoided 40M-row shuffles)
                # the identifiers checkpoint is already hash-partitioned on the
                # block key (see identifier_extraction) — this projection is a
                # zero-exchange in-memory scan of it, and every consumer below
                # (group stats, anchor join, candidate pairs) inherits the
                # partitioning; no second materialization needed
                members = identifiers_filtered.filter(
                    F.col("identifier_value_norm").isNotNull()
                ).select("table_id", "entity_key", *blocking.BLOCK_KEY)
            else:
                delta_values = blocking.delta_identifier_values(
                    identifiers_filtered, entities_delta
                )
                members = blocking.members_for_delta_values(
                    identifiers_filtered, delta_values, cfg.salt_buckets
                )
                # INCR: materialize ONCE, hash-partitioned on the block key:
                # group_sizes, anchor_edges and candidate_pairs all consume
                # members on this key and reuse the exchange instead of
                # recomputing the blocking join
                members = members.repartition(*blocking.BLOCK_KEY).localCheckpoint(eager=True)
            # singleton blocks (one member = a unique identifier value — the
            # overwhelming majority of distinct values at scale) produce no
            # pairs, no edges and no skip audit: drop them BEFORE the stats
            # materialization so the checkpoint and the per-block lineage
            # below scale with pair-PRODUCING blocks, not with corpus
            # cardinality (at 10M retail rows: ~20M singleton rows skipped;
            # their count remains observable via identifier_quality's
            # approx_distinct vs n_values).
            # the skipped-group COUNT folds into the sizes checkpoint job via
            # an Observation over the per-type max_group_size CASE (rules are
            # driver metadata) — the common all-valid run pays ZERO extra
            # jobs; the audit frame itself is only built (and sample keys
            # only sorted) on the rare count>0 path
            from pyspark.sql import Observation

            max_by_type = F.lit(None).cast("int")
            for r in cfg.active_rules():
                max_by_type = F.when(
                    F.col("identifier_type") == r.identifier_type,
                    F.lit(int(r.max_group_size or blocking.DEFAULT_MAX_GROUP_SIZE)),
                ).otherwise(max_by_type)
            skip_obs = Observation(f"skipped_{uuid.uuid4().hex[:8]}")
            sizes = (
                blocking.group_stats(members)
                .filter(F.col("group_size") >= 2)
                .observe(
                    skip_obs,
                    F.sum(
                        F.when(F.col("group_size") > max_by_type, 1).otherwise(0)
                    ).alias("n_skipped"),
                )
                .localCheckpoint(eager=True)
            )
            res.groups_skipped = int(skip_obs.get["n_skipped"] or 0)
            valid, skipped = blocking.split_by_group_size(spark, cfg, sizes, run_id)
            if res.groups_skipped:
                res.warnings.append(
                    f"{res.groups_skipped} identifier groups skipped (exceeded max_group_size)"
                )
                skipped_cols = skipped.columns
                skipped = (
                    skipped.drop("sample_entity_keys")
                    .join(blocking.sample_keys_for(members, skipped), blocking.BLOCK_KEY, "left")
                    .withColumn("sample_entity_keys", F.col("sample_keys").cast("string"))
                    .select(*skipped_cols)
                    .localCheckpoint(eager=True)
                )
                # the physical append joins the output_write flush pool
                # instead of paying a serial write job on the hot edge stage
                self._pending_appends.append((T_SKIPPED, skipped))
            else:
                # nothing skipped: append the (empty, schema-bearing) audit
                # frame from the flush pool — no job here either way
                self._pending_appends.append((T_SKIPPED, skipped))

            edges_exact = blocking.anchor_edges(valid, members, run_ts, salt_buckets=cfg.salt_buckets)

            scored_hist = None  # (type, value, pair_count, score_histogram) for lineage
            has_scored = any(r.match_strategy == "SCORED" for r in cfg.active_rules())
            if has_scored:
                texts_delta = self._entity_texts(loaded)
                if texts_delta is None:
                    raise ValueError("SCORED rules configured but no source exposes match_text")
                # candidate pairs reference EXISTING members of delta blocks —
                # their match_text comes from the store, not a corpus re-read
                texts = self._maintain_store(
                    T_ENTITY_TEXTS,
                    texts_delta,
                    keys=["entity_key"],
                    bucket_col="entity_key",
                    mode=mode,
                    dry_run=dry_run,
                    delta_is_full=delta_is_full,
                    approx_rows=res.entities_processed,
                    full_df_fn=lambda: self._entity_texts(extract.load_sources(spark, cfg)),
                )
                scored_rules = [r for r in cfg.active_rules() if r.match_strategy == "SCORED"]
                scored_types = [r.identifier_type for r in scored_rules]
                rule_meta = {r.rule_id: (float(r.threshold), r.scorer) for r in scored_rules}
                # entity-count gate for broadcasting the tokenized entity side
                # into the scoring join (the pair stream then never reshuffles
                # with token arrays). FULL already knows the count; INCR
                # derives an upper bound from catalog pointer metadata (prior
                # store rows + this delta's entities) — zero extra jobs, and
                # overestimating can only withhold a broadcast, never force
                # an oversized one. Exact only when every active source
                # exposes match_text AND one text row per entity (the
                # transcripts signature source declares both via
                # match_text_unique; undeclared sources get the defensive
                # dedup agg inside score_candidate_pairs instead).
                if mode == "FULL" or delta_is_full:
                    n_texts = res.entities_processed
                else:
                    n_texts = (cat.row_count(T_ENTITY_TEXTS) or 0) + res.entities_processed
                broadcast_texts = n_texts <= cfg.score_broadcast_max_entities
                # INCR: only delta-impacted block members ever get scored, so
                # tokenize/broadcast just THEIR texts (semi-join) — the
                # scoring-side text build is ∝ impacted set, not corpus (it
                # was the largest O(corpus) cost left on the INCR path:
                # classic scoring tokenized and broadcast the WHOLE store
                # every micro-batch). Candidate pairs only carry entity keys
                # from `members`, and every text attach is an INNER equi-join
                # on those keys, so the restriction is exact. FULL: every
                # entity is a member; skip the pointless semi-join.
                scoring_texts = texts
                if mode == "INCR" and not delta_is_full:
                    member_keys = (
                        members.filter(F.col("identifier_type").isin(scored_types))
                        .select("entity_key")
                        .distinct()
                    )
                    # the store read itself is bucket-PRUNED to the impacted
                    # members' buckets (the text column is the widest in the
                    # warehouse — a full-store scan per micro-batch would be
                    # the INCR path's largest IO term at corpus scale); delta
                    # rows then replace prior rows exactly like the
                    # _maintain_store view
                    prior_slice = cat.read_slice_for(
                        T_ENTITY_TEXTS, member_keys, "entity_key", texts_delta.schema
                    )
                    scoring_texts = (
                        prior_slice.join(
                            texts_delta.select("entity_key").distinct(), "entity_key", "left_anti"
                        )
                        .unionByName(texts_delta.select(*prior_slice.columns))
                        .join(member_keys, "entity_key", "leftsemi")
                    )
                scoring_members = members
                if cfg.scored_dedup_identical_text:
                    # member dedup only needs fingerprints for IMPACTED
                    # members (inner join) — hash the scoped text set
                    scoring_members = blocking.dedup_scored_members(
                        members, _text_fingerprints(scoring_texts), scored_types
                    )
                pairs = blocking.candidate_pairs(
                    valid,
                    scoring_members,
                    salt_buckets=cfg.salt_buckets,
                    all_pairs_max=cfg.scored_all_pairs_max,
                )
                scored_pairs = scoring.score_candidate_pairs(
                    pairs,
                    scoring_texts,
                    rule_meta,
                    broadcast_texts=broadcast_texts,
                    texts_unique=self._texts_unique,
                )
                scored_pairs, res.candidate_pairs_scored = _ckpt_count(
                    scored_pairs, "scored_pairs"
                )
                scored_hist = scoring.score_histogram(scored_pairs)
                edges_scored = scoring.scored_edges(scored_pairs, run_ts)
                if cfg.scored_dedup_identical_text and cfg.emit_duplicate_text_pairs:
                    # linear complement of the dedup: every dropped duplicate
                    # links to its fingerprint group's representative with a
                    # pre-scored 1.0 pair (identical payload ⟹ score 1.0 —
                    # skipping the scorer is exact, not an approximation).
                    # GLOBAL fingerprints: a delta entity's representative
                    # may live outside the impacted blocks.
                    dup_rule = min(scored_rules, key=lambda r: r.priority)
                    dup_scored = blocking.duplicate_text_pairs(
                        _text_fingerprints(texts), delta_keys=entities_delta
                    ).select(
                        F.lit(dup_rule.rule_id).alias("rule_id"),
                        "left_entity_key",
                        "right_entity_key",
                        F.lit(dup_rule.identifier_type).alias("identifier_type"),
                        F.concat(F.lit("dup:"), F.hex("fp")).alias("identifier_value_norm"),
                        F.lit(float(dup_rule.threshold)).alias("threshold"),
                        F.lit(dup_rule.scorer).alias("scorer"),
                        F.lit(1.0).alias("score"),
                    )
                    dup_scored, n_dup = _ckpt_count(dup_scored, "dup_pairs")
                    res.candidate_pairs_scored += n_dup
                    scored_hist = scored_hist.unionByName(scoring.score_histogram(dup_scored))
                    edges_scored = edges_scored.unionByName(
                        scoring.scored_edges(dup_scored, run_ts)
                    )
                edges_new = edges_exact.unionByName(edges_scored)
            else:
                edges_new = edges_exact

            edges_new, res.edges_created = _ckpt_count(edges_new, "edges_new")
            s.rows(res.edges_created)

        # -------- merge edges (S5) / dry-run view
        edge_keys = [
            "rule_id", "left_entity_key", "right_entity_key", "identifier_type", "identifier_value_norm",
        ]
        edges_schema = schema_str(_EDGE_SCHEMA, spark)
        if mode == "FULL" and not dry_run:
            # the checkpointed edges ARE the post-overwrite content: consume
            # them in-memory (LP reads the edge set 2-3×; a parquet write +
            # re-read here puts ~2 table scans back on the critical path) and
            # defer the physical overwrite to the output_write batch flush.
            # Resume-safe: run_state advances only after the flush, so an
            # interrupted run re-derives the same edges idempotently.
            self._pending_stores.append(
                (T_EDGES, "overwrite", edges_new, edge_keys, "left_entity_key", res.edges_created)
            )
            edges_current = edges_new
        if mode == "INCR":
            # connectivity changes only where a pair's endpoints are NOT
            # already co-clustered: re-derived edges of re-signed watermark-
            # boundary entities (and new rule-edges inside an existing
            # cluster) only refresh last_seen_ts in the MERGE — they must not
            # drag their whole (possibly huge) clusters into the recluster.
            # Testing membership rather than the edge store is also
            # CRASH-SAFE: a prior run that merged edges but failed before
            # publishing membership leaves those pairs non-co-clustered, so
            # the re-run still reclusters them (an edge-store anti-join would
            # see them as "already known" and strand them unclustered).
            # Bucket-pruned membership lookup + delta-sized joins,
            # checkpointed before any store pointer moves.
            new_pairs = _graph_changing_pairs(
                edges_new,
                cat.read_slice_for(
                    T_MEMBERSHIP,
                    graph.impacted_nodes(edges_new),
                    "entity_key",
                    schema_str(_MEMBERSHIP_SCHEMA, spark),
                ),
            ).localCheckpoint(eager=True)
        if dry_run:
            prior = cat.read(T_EDGES, edges_schema)
            if mode == "FULL":
                edges_current = edges_new
            else:
                edges_current = prior.unionByName(edges_new).dropDuplicates(edge_keys)
        elif mode == "INCR":
            # eager (unlike FULL's deferred overwrite): LP + confidence read
            # the post-merge store next. Timed as its own stage — at corpus
            # scale this commit, not the scoring, caps INCR latency when
            # copy-on-write rewrites every matched bucket (edge_merge_on_read
            # keeps it O(delta); see sources/catalog.py merge-on-read).
            with stage("edge_merge") as s:
                cat.merge_upsert(
                    T_EDGES, edges_new, keys=edge_keys, update_cols=["last_seen_ts"],
                    bucket_col="left_entity_key", merge_on_read=cfg.edge_merge_on_read,
                )
                edges_current = cat.read(T_EDGES)
                # LP's subgraph and confidence's edge stats both scan the
                # post-merge store; each scan re-pays the read AND the MoR
                # reconciliation anti-join. Under the size gate, a lazy
                # localCheckpoint materializes it once on first use and every
                # later consumer reads blocks (freed when unreferenced).
                n_store = cat.row_count(T_EDGES)
                if (
                    cfg.incr_edge_materialize_max_rows > 0
                    and n_store is not None
                    and n_store <= cfg.incr_edge_materialize_max_rows
                ):
                    edges_current = edges_current.localCheckpoint(eager=False)
                s.rows(res.edges_created)

        # -------- subgraph + connected components (stages 30/31)
        with stage("label_propagation") as s:
            membership_current = cat.read(T_MEMBERSHIP, schema_str(_MEMBERSHIP_SCHEMA, spark))
            if mode == "FULL":
                # full rerun: every node, every edge (sql/common/90_full_rerun.sql).
                # The node universe is the CHECKPOINTED entity frame (one row
                # per entity by construction), not DISTINCT over the doubled
                # edge endpoints — endpoints ⊆ entities, and the extra
                # isolated entities label as themselves, which is exactly
                # what the singleton fallback would assign them (its
                # anti-join just goes empty); final membership is identical
                # while CC setup drops a full edge-scan exchange.
                nodes = entities_delta.select("entity_key")
                sub_edges = edges_current
            else:
                # impacted = endpoints of truly-NEW pairs only (re-derived
                # existing edges don't change components — sql/common/30's
                # edges_new semantics, restricted to graph-changing rows)
                impacted = graph.impacted_nodes(new_pairs)
                # steady-state invariant at this call site: committed edges
                # never cross clusters (see _graph_changing_pairs for the
                # crash-retry argument; the flush commits membership LAST so
                # every partial-commit window re-qualifies on retry) — 1-hop
                # + the right-endpoint restriction are provably redundant,
                # saving ~4 edge-store scans per INCR run. The invariant can
                # break when MATCH SEMANTICS changed since the last committed
                # run (old edges may cross clusters the new rules would not
                # form), so the first INCR under a changed match_signature —
                # or incr_safe_edge_restriction=True — takes the safe 1-hop +
                # both-endpoint form instead.
                fast_ok = not cfg.incr_safe_edge_restriction
                if fast_ok:
                    prior_sig = self._last_match_signature()
                    fast_ok = prior_sig == run_sig
                    if not fast_ok:
                        res.warnings.append(
                            "match semantics changed since last committed run "
                            "(or no signature recorded): using safe subgraph "
                            "edge restriction for this run"
                        )
                nodes, sub_edges = graph.subgraph(
                    edges_current, impacted, membership_current,
                    members_cover_edges=fast_ok,
                )
            cc = graph.connected_components(
                nodes,
                sub_edges,
                max_iters=cfg.max_iters,
                edge_count_hint=res.edges_created,
                # bounded driver union-find fast path under the cap — gated
                # on the MEASURED edge count, not the mode: INCR subgraphs
                # are delta-sized by design; a FULL graph qualifies only when
                # the corpus itself is tiny (corpus-scale graphs always
                # exceed the cap and run distributed).
                local_max_edges=cfg.cc_local_max_edges,
            )
            res.lp_iterations = cc.iterations
            res.lp_converged = cc.converged
            res.cc_path = cc.path
            res.cc_rounds = cc.rounds
            if not cc.converged:
                # HARD FAIL (≙ IDR_Run.py:493-494): no membership/cluster/golden
                # MERGE may run on non-converged labels. Record the failed run
                # for observability, then raise. In INCR mode edges were merged
                # eagerly above — valid facts (idempotent MERGE, independent of
                # clustering); in FULL mode the edge overwrite is DEFERRED to
                # the output_write flush, so a non-converged FULL run publishes
                # no edges at all (intended: more atomic). The watermark has
                # NOT advanced either way, so the next run reprocesses the
                # same delta cleanly from the prior snapshot boundary.
                res.status = "FAILED"
                res.warnings.append(
                    f"label propagation did not converge in {cc.iterations} iterations"
                )
                res.duration_seconds = round(time.time() - t0, 3)
                for n_, d_ in self._pending_appends:  # audit rows still land
                    cat.append(n_, d_)
                self._pending_appends = []
                self._record_history(res, run_ts, stage_rows)
                raise ConvergenceError(
                    f"run {run_id}: label propagation did not converge within "
                    f"{cc.iterations} iterations (path={cc.path}, "
                    f"max_iters={cfg.max_iters}); no membership was published"
                )
            labels, n_labels = _ckpt_count(cc.labels, "labels")
            s.rows(n_labels)

        # -------- membership + clusters (stages 40/41/42)
        with stage("membership_update") as s:
            updates = membership.membership_updates(
                labels,
                entities_delta,
                run_ts,
                prior_members=(
                    None
                    if mode == "FULL"
                    else cat.read_slice_for(
                        T_MEMBERSHIP, entities_delta, "entity_key",
                        schema_str(_MEMBERSHIP_SCHEMA, spark),
                    )
                ),
            )
            updates = updates.localCheckpoint(eager=True)
            if not dry_run:
                if mode == "FULL":
                    # same deferral as T_EDGES: the checkpointed updates ARE
                    # the post-overwrite table; keep the sink write out of the
                    # critical path (cluster sizes/confidence/golden all read
                    # membership 2-3×)
                    self._pending_stores.append(
                        (T_MEMBERSHIP, "overwrite", updates, ["entity_key"], "entity_key",
                         res.entities_processed)
                    )
                else:
                    # INCR: defer to the concurrent flush too — every
                    # downstream consumer reads the checkpointed updates frame
                    # (see below), so nothing waits on the store commit
                    # (full-row upsert on the key ≡ delete+insert by key)
                    self._pending_stores.append(
                        (T_MEMBERSHIP, "delete_insert", updates, ["entity_key"], "entity_key",
                         n_labels)
                    )
            # The checkpointed updates frame IS the impacted-cluster
            # membership in EVERY mode: FULL relabels everyone, and INCR's
            # full-touched-cluster subgraph superset relabels every member of
            # every impacted cluster (an outside entity can't share a new
            # resolved_id: min-keys belong to exactly one component). So the
            # three downstream consumers (sizes / edge stats / golden) run on
            # the delta-sized frame with NO restriction semi-join and NO
            # O(corpus) membership read on the INCR critical path —
            # edges_current supplies incident edges via joins against the
            # broadcast-sized updates.
            csizes = membership.cluster_sizes(updates, None, run_ts)
            estats = confidence.cluster_edge_stats(updates, edges_current, None)
            # cluster_confidence checkpoints its density frame internally
            # (max_div Observation); return_count rides the SAME job — the
            # second materialize+count this stage used to pay is gone, and
            # every consumer (golden dimension, clusters flush) runs the
            # narrow final projection over that checkpoint
            conf, res.clusters_impacted = confidence.cluster_confidence(
                csizes, estats, run_ts, return_count=True
            )
            if not dry_run:
                # conf is checkpointed — both modes defer the commit to the
                # concurrent flush (INCR: delete+insert of impacted clusters)
                op = "overwrite" if mode == "FULL" else "delete_insert"
                self._pending_stores.append(
                    (T_CLUSTERS, op, conf, ["resolved_id"], "resolved_id", res.clusters_impacted)
                )
            s.rows(res.clusters_impacted)

        # -------- golden profile (stage 50)
        with stage("golden_profile") as s:
            if cfg.attributes:
                attrs_delta = golden.build_entities_all(spark, cfg, loaded)
                # survivorship ranks ALL members of impacted clusters — old
                # members' attributes come from the store (delta-maintained)
                entities_all = self._maintain_store(
                    T_ENTITY_ATTRS,
                    attrs_delta,
                    keys=["entity_key", "table_id"],
                    bucket_col="entity_key",
                    mode=mode,
                    dry_run=dry_run,
                    delta_is_full=delta_is_full,
                    approx_rows=res.entities_processed * max(1, len(cfg.attributes)),
                    full_df_fn=lambda: golden.build_entities_all(
                        spark, cfg, extract.load_sources(spark, cfg)
                    ),
                )
                gold = golden.golden_updates(
                    spark, cfg, entities_all, updates, None, run_ts,
                    # the checkpointed confidence frame is exactly one row per
                    # (impacted) cluster in every mode — free dimension
                    cluster_ids=conf,
                )
                gold, n_gold = _ckpt_count(gold, "golden")
                if not dry_run:
                    op = "overwrite" if mode == "FULL" else "delete_insert"
                    self._pending_stores.append(
                        (T_GOLDEN, op, gold, ["resolved_id"], "resolved_id", n_gold)
                    )
                s.rows(n_gold)

        # -------- audit + lineage + run_state (stages 60/70)
        with stage("output_write") as s:
            audit = (
                edges_new.groupBy("rule_id")
                .agg(F.count(F.lit(1)).alias("edges_created"))
                .select(
                    F.lit(run_id).alias("run_id"),
                    "rule_id",
                    "edges_created",
                    F.lit(run_ts).cast("timestamp").alias("started_at"),
                    F.current_timestamp().alias("ended_at"),
                )
            )

            # identifier quality profile (≙ idr_out.identifier_quality,
            # sql/common/02_ddl_observability.sql — a per-RUN table): per
            # type, volume / cardinality / reuse — the signals that catch a
            # degenerate blocking key before it melts a partition. Scoped to
            # THIS run's extracted (checkpointed) identifiers: profiling the
            # whole store again every micro-batch would be an O(corpus) scan
            # on the INCR critical path for a per-run observability row.
            quality = (
                identifiers_delta.groupBy("identifier_type")
                .agg(
                    F.count(F.lit(1)).alias("n_values"),
                    F.approx_count_distinct("identifier_value_norm").alias("approx_distinct"),
                    F.approx_count_distinct("entity_key").alias("approx_entities"),
                )
                .select(
                    F.lit(run_id).alias("run_id"),
                    "identifier_type",
                    "n_values",
                    "approx_distinct",
                    "approx_entities",
                    F.round(
                        F.col("n_values").cast("double")
                        / F.greatest(F.lit(1), F.col("approx_distinct")),
                        3,
                    ).alias("avg_group_size_est"),
                    F.lit(run_ts).cast("timestamp").alias("computed_at"),
                )
            )

            # per-partition lineage: one row per pair-producing block (block
            # id, pair count, score histogram, cluster delta) — north-rule
            # observability. Singleton blocks are excluded upstream (see the
            # sizes filter in edge_building): at corpus scale they are ~90% of
            # distinct values and carry zero matching signal.
            lineage = sizes.select(
                F.lit(run_id).alias("run_id"),
                F.sha2(F.concat_ws("§", "identifier_type", "identifier_value_norm"), 256).alias("block_id"),
                "identifier_type",
                F.col("group_size"),
                (F.col("group_size") - F.lit(1)).alias("pair_count"),
            )
            if scored_hist is not None:
                hist = scored_hist.select(
                    F.sha2(F.concat_ws("§", "identifier_type", "identifier_value_norm"), 256).alias("block_id"),
                    F.col("pair_count").alias("scored_pair_count"),
                    "score_histogram",
                )
                lineage = lineage.join(hist, "block_id", "left")
            else:
                lineage = lineage.withColumn("scored_pair_count", F.lit(None).cast("long")).withColumn(
                    "score_histogram", F.lit(None).cast("string")
                )
            lineage = lineage.withColumn("cluster_delta", F.lit(res.clusters_impacted))

            # flush deferred store commits BEFORE the watermark advances: an
            # interrupted flush re-derives and re-merges the same delta next
            # run (idempotent delete+insert), never losing entities.
            # Each pending store targets its own table dir/pointer. FULL-mode
            # overwrite frames are already checkpointed; INCR delete_insert
            # deltas may still hold lazy plans (recomputed here, off the hot
            # stages) — submit the write jobs from a small thread pool so
            # Spark schedules them concurrently (the writes are IO-heavy with
            # idle cores between stages; overlapping them cuts the flush wall
            # time at every parallelism level). The three observability
            # appends (audit / quality / lineage) read only checkpointed
            # frames and target their own append tables, so they join the
            # same pool instead of running serially ahead of it. setJobGroup
            # is thread-local, so each worker re-tags its own thread for UI
            # attribution.
            # COMMIT-ORDER BARRIER (publish-phase only): T_MEMBERSHIP's
            # POINTER publishes LAST, strictly after every other store/append
            # publish succeeded. The INCR retry's recluster scope is gated on
            # membership co-clustering (_graph_changing_pairs): if a crash
            # left membership PUBLISHED but clusters/golden UNpublished, the
            # retry would see the pairs already co-clustered, find an empty
            # impacted set, and never recompute the downstream tables —
            # permanently stale. With the membership pointer last, any crash
            # window that leaves a downstream table unpublished also leaves
            # membership unpublished, so the retry re-qualifies the pairs and
            # re-derives everything (idempotent delete+insert). Unlike the
            # round-5 barrier (which serialized membership's whole commit
            # after the pool), only the atomic pointer swap is ordered: the
            # membership WRITE work overlaps the rest of the pool
            # (defer_publish — sources/catalog.py), restoring flush overlap
            # while keeping the exact same crash-window guarantee.
            deferred_publish: list = []

            def _flush(entry):
                spark.sparkContext.setJobGroup(
                    "output_write", f"idr store flush {entry[1]}", False
                )
                if entry[0] == "append":
                    _, st_name, st_df = entry
                    cat.append(st_name, st_df)
                else:
                    _, st_name, st_op, st_df, st_keys, st_bucket, st_rows = entry
                    defer = st_name == T_MEMBERSHIP
                    if st_op == "overwrite":
                        pub = cat.overwrite(
                            st_name, st_df, bucket_col=st_bucket, defer_publish=defer,
                            approx_rows=st_rows,
                        )
                    else:
                        pub = cat.delete_insert(
                            st_name, st_df, keys=st_keys, bucket_col=st_bucket,
                            merge_on_read=cfg.store_merge_on_read, defer_publish=defer,
                            approx_rows=st_rows,
                        )
                    if pub is not None:
                        deferred_publish.append(pub)

            flush_tasks = (
                [
                    ("append", T_AUDIT, audit),
                    ("append", T_IDENTIFIER_QUALITY, quality),
                    ("append", T_LINEAGE, lineage),
                ]
                + [("append", n_, d_) for n_, d_ in self._pending_appends]
                + [("store", *entry) for entry in self._pending_stores]
            )
            n_flush = max(1, int(cfg.flush_max_workers))
            if len(flush_tasks) > 1 and n_flush > 1:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=min(n_flush, len(flush_tasks))) as ex:
                    list(ex.map(_flush, flush_tasks))
            else:
                for entry in flush_tasks:
                    _flush(entry)
            # every other table's pointer is live; now (and only now) swap
            # the membership pointer — a failure anywhere above skips this,
            # which is exactly the crash window the retry logic handles
            for pub in deferred_publish:
                pub()
            self._pending_stores = []
            self._pending_appends = []
            if self._ids_count_from_pointer and not dry_run:
                # INCR metric backfill: exact post-merge store total from the
                # just-committed pointer (per-bucket footer counts) — replaces
                # the O(table) count scan that used to run mid-extract
                res.identifiers_extracted = (
                    cat.row_count(T_IDENTIFIERS) or res.identifiers_extracted
                )
            # store-commit observability: how much of each bucketed table this
            # run actually rewrote (≙ Iceberg snapshot summary changed-
            # partition counts) — INCR health is "fraction ≪ 1".
            res.store_commits = dict(cat.last_commit_stats)
            if res.store_commits and not dry_run:
                # driver-held scalars → driver-side parquet append (zero jobs)
                cat.append_rows(
                    "store_commit_metrics",
                    [
                        (run_id, t, s_["n_buckets"], s_["touched_buckets"],
                         s_["rewritten_fraction"], run_ts)
                        for t, s_ in res.store_commits.items()
                    ],
                    "run_id string, table_name string, n_buckets int, touched_buckets int, "
                    "rewritten_fraction double, run_ts timestamp",
                )

            if not dry_run:
                # run_state / engine_config_state are one-row-per-source
                # state tables whose content the driver already holds (the
                # watermark maxes rode the entity checkpoint's Observation):
                # driver-side MERGE, zero Spark jobs — was 2 serial Spark
                # merge jobs closing every run
                wm_rows = [
                    (tid, wm, run_id, run_ts)
                    for tid, wm in wm_by_table.items()
                    if wm is not None
                ]
                if wm_rows:
                    cat.merge_upsert_rows(
                        T_RUN_STATE, wm_rows, keys=["table_id"],
                        schema=_RUN_STATE_SCHEMA,
                    )
                # record the match semantics this committed state was built
                # under — the next INCR compares and falls back to the safe
                # subgraph restriction if they differ
                cat.merge_upsert_rows(
                    T_CONFIG_STATE,
                    [("match_signature", run_sig, run_id)],
                    keys=["k"],
                    schema="k string, v string, last_run_id string",
                )
            s.rows(0)

        # -------- dry-run diff (idr_run.py:705-746)
        if dry_run:
            with stage("dry_run_diff") as s:
                prior_membership = cat.read(T_MEMBERSHIP, schema_str(_MEMBERSHIP_SCHEMA, spark))
                prior_clusters = cat.read(T_CLUSTERS, schema_str(_CLUSTERS_SCHEMA, spark))
                diff = membership.dry_run_diff(
                    updates, prior_membership, prior_clusters, csizes, entities_delta, run_id
                ).localCheckpoint(eager=True)
                cat.append(T_DRY_RESULTS, diff)
                counts = {r["change_type"]: r["n"] for r in diff.groupBy("change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
                largest = csizes.agg(F.max("cluster_size").alias("m")).first()["m"] or 0
                summary = spark.createDataFrame(
                    [(
                        run_id,
                        sum(counts.values()),
                        counts.get("NEW", 0),
                        counts.get("MOVED", 0),
                        counts.get("UNCHANGED", 0),
                        int(largest),
                        res.edges_created,
                        res.groups_skipped,
                        res.values_excluded,
                        float(round(time.time() - t0, 3)),
                    )],
                    "run_id string, total_entities bigint, new_entities bigint, moved_entities bigint, "
                    "unchanged_entities bigint, largest_proposed_cluster bigint, edges_would_create bigint, "
                    "groups_would_skip bigint, values_would_exclude bigint, execution_time_seconds double",
                )
                cat.append(T_DRY_SUMMARY, summary)
                s.rows(sum(counts.values()))

        # -------- finalize: run_history / stage_metrics / metrics_export
        res.duration_seconds = round(time.time() - t0, 3)
        res.status = (
            "DRY_RUN_COMPLETE" if dry_run else ("SUCCESS_WITH_WARNINGS" if res.warnings else "SUCCESS")
        )
        self._record_history(res, run_ts, stage_rows)
        exported_at = datetime.now(timezone.utc).replace(tzinfo=None)
        metrics = [
            (run_id, "idr_run_duration_seconds", float(res.duration_seconds), "gauge", exported_at),
            (run_id, "idr_entities_processed", float(res.entities_processed), "gauge", exported_at),
            (run_id, "idr_edges_created", float(res.edges_created), "counter", exported_at),
            (run_id, "idr_clusters_impacted", float(res.clusters_impacted), "gauge", exported_at),
            (run_id, "idr_lp_iterations", float(res.lp_iterations), "gauge", exported_at),
            (run_id, "idr_groups_skipped", float(res.groups_skipped), "counter", exported_at),
        ]
        cat.append_rows(
            T_METRICS,
            metrics,
            "run_id string, metric_name string, metric_value double, metric_type string, "
            "exported_at timestamp",
        )
        return res

    def _record_history(self, res: RunResult, run_ts, stage_rows: list[tuple]) -> None:
        """Append run_history + stage_metrics (shared by the success finalize
        and the non-convergence failure path). Both are a handful of rows the
        driver already holds — append_rows writes them with zero Spark jobs
        (one serial write job each, ~1 s/run of pure scheduler floor before)."""
        self.catalog.append_rows(
            T_RUN_HISTORY,
            [(
                res.run_id, res.mode, bool(res.dry_run), res.status, run_ts,
                float(res.duration_seconds),
                int(res.entities_processed), int(res.edges_created), int(res.clusters_impacted),
                int(res.lp_iterations), int(res.groups_skipped), int(res.values_excluded),
                json.dumps(res.warnings) if res.warnings else None,
            )],
            "run_id string, run_mode string, dry_run boolean, status string, started_at timestamp, "
            "duration_seconds double, entities_processed bigint, edges_created bigint, "
            "clusters_impacted bigint, lp_iterations int, groups_skipped bigint, "
            "values_excluded bigint, warnings string",
        )
        if stage_rows:
            self.catalog.append_rows(
                T_STAGE_METRICS,
                [(r[0], r[1], int(r[2]), float(r[3]), r[4]) for r in stage_rows],
                "run_id string, stage string, rows bigint, seconds double, run_ts timestamp",
            )


def schema_str(s: str, spark: SparkSession):
    from pyspark.sql.types import StructType

    return StructType.fromDDL(s)


def _graph_changing_pairs(edges_new, prior_members):
    """Endpoint pairs of ``edges_new`` whose endpoints are NOT already
    co-clustered in ``prior_members`` — the rows that actually change graph
    connectivity. A pair whose endpoints share a resolved_id contributes
    nothing to the recluster (components are unions of endpoint pairs);
    either endpoint missing or differing means the pair must recluster —
    which also makes crash recovery exact: edges merged by a failed run that
    never published membership re-qualify here on the retry."""
    pair_cols = ["left_entity_key", "right_entity_key"]
    ml = prior_members.select(
        F.col("entity_key").alias("left_entity_key"), F.col("resolved_id").alias("_rl")
    )
    mr = prior_members.select(
        F.col("entity_key").alias("right_entity_key"), F.col("resolved_id").alias("_rr")
    )
    return (
        edges_new.select(*pair_cols)
        .distinct()
        .join(ml, "left_entity_key", "left")
        .join(mr, "right_entity_key", "left")
        .where(F.col("_rl").isNull() | F.col("_rr").isNull() | (F.col("_rl") != F.col("_rr")))
        .select(*pair_cols)
    )
