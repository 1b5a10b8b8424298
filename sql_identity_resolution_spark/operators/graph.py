"""Stage 30/31: impacted subgraph + connected components.

Two CC implementations:

- ``hash_min_lp`` — the reference's algorithm verbatim at the logical level
  (``sql/common/31_label_propagation_step.sql``): labels start as self, each
  iteration takes MIN over self ∪ neighbor labels; converges in O(diameter)
  rounds. The reference's anchor-star edges keep diameters tiny (observed 6
  iterations at 10M rows, docs/performance/benchmark-results.md:35).

- ``alternating_star`` — large-star/small-star (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14): O(log² n) rounds regardless
  of diameter; the scale path the north rule mandates for 10^12-turn graphs
  where a single adversarial chain would stall hash-min. A graph of at most
  ``_STAR_CONTRACT_MAX_EDGES`` canonical edges is first contracted by one
  ``mapInArrow`` task running a vectorized numpy union-find, which hands the
  loop a star forest: the loop then converges in a single round.

Both run as driver-controlled DataFrame loops with ``localCheckpoint()`` to
truncate lineage (the reference's table-swap per iteration,
idr_run.py:480-481, plays the same role), and pull exactly ONE scalar per
materialization (the convergence delta) to the driver.

``checkpoint_every=k`` fuses k propagation rounds into ONE Spark job:
intermediate rounds are lazily ``persist()``-ed (each round computes exactly
once when the k-th round's checkpoint action runs — without the persist, a
round's plan is referenced 2-4× by the next round and evaluation would grow
exponentially in k) and only every k-th round materializes + checks
convergence. Fewer job round-trips, at the cost of up to k−1 extra rounds
past the fixed point (a deterministic step that produces no change IS the
fixed point, so checking only the last fused round is sound). k=1 (default)
is the reference's check-every-iteration behavior.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CCResult:
    labels: DataFrame  # (entity_key, label)
    iterations: int
    converged: bool
    # which execution path produced the labels — surfaced as RunResult.cc_path
    # and in bench JSON so a reader can tell a distributed-LP timing from the
    # bounded driver union-find fast path: "hash_min" | "star" |
    # "hash_min+star" (probe escalated) | "local_union_find"
    path: str = "distributed"
    # per materialized round — hash-min: {"sec": wall, "delta": labels
    # changed}; star: {"sec": wall, "pairs": forest pairs after the round} —
    # the scaling decomposition the bench publishes (empty for non-loop paths)
    rounds: list = field(default_factory=list)
    # star's union-find pre-pass: {"sec", "edges_in" (canonical edges),
    # "pairs_out"} (empty when it did not run: another path, or a graph
    # above _STAR_CONTRACT_MAX_EDGES)
    contraction: dict = field(default_factory=dict)


def impacted_nodes(edges_new: DataFrame) -> DataFrame:
    """Endpoints of this run's new edges (sql/common/30:4-8)."""
    return (
        edges_new.select(F.col("left_entity_key").alias("entity_key"))
        .union(edges_new.select(F.col("right_entity_key").alias("entity_key")))
        .distinct()
    )


def subgraph(
    edges_current: DataFrame,
    impacted: DataFrame,
    membership_current: DataFrame | None = None,
    members_cover_edges: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(subgraph_nodes, subgraph_edges).

    Reference takes impacted ∪ 1-hop neighbors (sql/common/30:10-20). We add a
    strict-superset expansion: also every current member of any cluster that an
    impacted node belongs to (via membership_current). The 1-hop form can leave
    far members of a shrinking-min cluster with stale labels when a new edge
    introduces a smaller key (>1-hop nodes never relabel); expanding to full
    touched clusters makes incremental labels exactly equal to a full rerun's,
    while still touching only impacted clusters. Reference test semantics are
    preserved (superset ⇒ same components, docs/concepts/matching-algorithm.md:129-138).

    ``members_cover_edges=True`` (requires membership_current) declares the
    pipeline's steady-state invariant: every committed edge's endpoints share
    a resolved_id — membership publishes a label for every subgraph node, and
    a crashed run's unclustered edges re-qualify as graph-changing pairs on
    retry (plans/pipeline.py), so at this call site no committed edge crosses
    clusters. Under it the 1-hop expansion is provably redundant (a neighbor
    across an old edge IS a co-member; a neighbor across a new edge IS
    impacted) and the both-endpoint edge restriction collapses to a ONE-SIDED
    left-key semi-join (left ∈ nodes ⟺ right ∈ nodes for old edges; new edges
    have both endpoints impacted) — cutting the subgraph build from ~5 scans
    of the edge store to 1 edge scan + 1 membership scan per INCR run (and
    the left key is the edge store's bucket column, so a bucketed deployment
    prunes that scan too)."""
    if members_cover_edges:
        if membership_current is None or "resolved_id" not in membership_current.columns:
            raise ValueError("members_cover_edges=True requires membership_current")
        touched_clusters = (
            membership_current.join(impacted, "entity_key", "left_semi")
            .select("resolved_id")
            .distinct()
        )
        cluster_members = membership_current.join(
            touched_clusters, "resolved_id", "left_semi"
        ).select("entity_key")
        nodes = impacted.union(cluster_members).distinct()
        edges = edges_current.select("left_entity_key", "right_entity_key").join(
            nodes.withColumnRenamed("entity_key", "left_entity_key"),
            "left_entity_key",
            "left_semi",
        )
        return nodes, edges
    hop1 = (
        edges_current.join(
            impacted.withColumnRenamed("entity_key", "ik"),
            F.col("right_entity_key") == F.col("ik"),
            "inner",
        )
        .select(F.col("left_entity_key").alias("entity_key"))
        .union(
            edges_current.join(
                impacted.withColumnRenamed("entity_key", "ik"),
                F.col("left_entity_key") == F.col("ik"),
                "inner",
            ).select(F.col("right_entity_key").alias("entity_key"))
        )
    )
    nodes = impacted.union(hop1)
    if membership_current is not None and "resolved_id" in membership_current.columns:
        touched_clusters = (
            membership_current.join(impacted, "entity_key", "left_semi")
            .select("resolved_id")
            .distinct()
        )
        cluster_members = membership_current.join(
            touched_clusters, "resolved_id", "left_semi"
        ).select("entity_key")
        nodes = nodes.union(cluster_members)
    nodes = nodes.distinct()
    # edges with BOTH endpoints in nodes (sql/common/30:22-27) — two semi-joins
    edges = (
        edges_current.select("left_entity_key", "right_entity_key")
        .join(nodes.withColumnRenamed("entity_key", "left_entity_key"), "left_entity_key", "left_semi")
        .join(nodes.withColumnRenamed("entity_key", "right_entity_key"), "right_entity_key", "left_semi")
    )
    return nodes, edges


def _undirected(edges: DataFrame) -> DataFrame:
    """(l,r) ∪ (r,l) doubling (sql/common/31:11-15)."""
    return edges.select(
        F.col("left_entity_key").alias("src"), F.col("right_entity_key").alias("dst")
    ).union(
        edges.select(F.col("right_entity_key").alias("src"), F.col("left_entity_key").alias("dst"))
    )


    # node count at or below which the string→long id mapping broadcasts into
    # the edge translation joins (~30 B/row ⇒ ≤120 MB at the cap): the two
    # per-endpoint joins then run map-side, removing TWO full edge-list
    # exchanges from CC setup — at 400k convs those exchanges were a bigger
    # non-scaling term than the LP rounds themselves (cc_rounds decomposition,
    # campaigns_r5/pair1). Above the cap (the 10^9-node regime) the joins
    # fall back to shuffles, which is the only shape that works there.
_CC_BROADCAST_MAX_NODES = 4_000_000

# star pre-pass cap: a canonical edge list this small is union-found in ONE
# Python task (coalesce(1) + mapInArrow) before the star loop. The kernel
# holds ~100 B per edge (measured peak: +101 MB at 1M edges, +405 MB at 4M;
# ~1 s per 1M edges on one core), so the cap bounds the worker's memory,
# which sits outside Spark's memory manager. Larger graphs run the loop on
# the canonical edges: a kernel per partition of a many-partition edge list
# leaves the cross-partition structure to the loop, which then takes as
# many rounds as without it (measured 9-10 at 4-32 partitions).
_STAR_CONTRACT_MAX_EDGES = 1_000_000


def _with_long_ids(algo_fn, nodes: DataFrame, edges: DataFrame, **kw) -> CCResult:
    """Run a CC loop on dense LONG node ids, then restore string semantics.

    Entity keys are ~17-40 byte strings; every CC iteration shuffles and
    hash-joins the full label table, so iterating on 8-byte longs cuts the
    per-round shuffle width and hash cost severalfold (standard practice —
    GraphFrames/GraphX do the same). The long ids come from
    ``monotonically_increasing_id`` (no sort, no global coordination); their
    ORDER is arbitrary, so after convergence each component's long label is
    remapped to the MIN STRING key within the component — one groupBy + two
    joins ONCE, preserving the reference's resolved_id = MIN(entity_key)
    contract (sql/common/40:2) exactly.

    The translation joins broadcast the mapping when the node count is small
    enough (`_CC_BROADCAST_MAX_NODES`) — the count is a free in-memory action
    on the just-checkpointed frame, the same size-adaptive gate AQE applies.

    AQE is DISABLED for the duration of the loop for the HASH-MIN variant
    only (``disable_aqe``, restored on exit): under AQE every exchange
    materializes as its own job, so each CC round pays 2-3 scheduler
    barriers instead of 1 — profiling at 400k/local[16]
    (campaigns_r5/profile_400k_16.json) showed the LP stage spending 32
    scheduler stages on 664 MB of total shuffle (~0.4 s of parallel work per
    stage): the floor is stage-launch count, not bytes, and hash-min's joins
    are explicitly hinted with pre-arranged partitioning so AQE re-planning
    adds nothing (pair4: LP 21.1 → 13.4 s at local[16]). The STAR loop is
    the opposite regime — ~8 un-hinted shuffles per round whose tiny
    intermediates AQE coalesces down to a handful of tasks; forcing AQE off
    there measured 3× SLOWER on the sf0.1 diameter-hundreds graph (16.3 s
    vs 5.8 s best-of-3 for the testdata CC query), so star keeps AQE on.
    """
    spark = nodes.sparkSession
    if not kw.pop("disable_aqe", False):
        return _with_long_ids_inner(algo_fn, nodes, edges, **kw)
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return _with_long_ids_inner(algo_fn, nodes, edges, **kw)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def _with_long_ids_inner(algo_fn, nodes: DataFrame, edges: DataFrame, **kw) -> CCResult:
    mapping = (
        nodes.select("entity_key")
        .withColumn("nid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    n_nodes = mapping.count()  # in-memory scan of the checkpointed frame
    lmap = mapping.withColumnRenamed("entity_key", "left_entity_key").withColumnRenamed("nid", "lid")
    rmap = mapping.withColumnRenamed("entity_key", "right_entity_key").withColumnRenamed("nid", "rid")
    if n_nodes <= _CC_BROADCAST_MAX_NODES:
        lmap, rmap = F.broadcast(lmap), F.broadcast(rmap)
    ledges = (
        edges.select("left_entity_key", "right_entity_key")
        .join(lmap, "left_entity_key")
        .join(rmap, "right_entity_key")
        .select(F.col("lid").alias("left_nid"), F.col("rid").alias("right_nid"))
    )
    lnodes = mapping.select("nid")
    res = algo_fn(lnodes, ledges, **kw)  # labels: (nid, lid)
    with_keys = res.labels.join(
        F.broadcast(mapping) if n_nodes <= _CC_BROADCAST_MAX_NODES else mapping, "nid"
    ).select("entity_key", "lid")
    reps = with_keys.groupBy("lid").agg(F.min("entity_key").alias("label"))
    labels = with_keys.join(reps.hint("shuffle_hash"), "lid").select("entity_key", "label")
    return CCResult(labels=labels, iterations=res.iterations, converged=res.converged,
                    path=res.path, rounds=res.rounds, contraction=res.contraction)


def _hash_min_lp_long(
    nodes: DataFrame, edges: DataFrame, max_iters: int, checkpoint_every: int,
    frontier: bool = True,
) -> CCResult:
    """Min-label propagation on long ids; see hash_min_lp for the contract.

    ``frontier=True`` (default) is the vertex-activation form (what Pregel/
    GraphX LP does): only labels that CHANGED last round are offered to
    neighbors. Exactly equivalent to the dense form — labels under hash-min
    are monotonically non-increasing, so a node whose label did not change in
    round i-1 offers the same value it already offered in round i-2; its
    neighbors have it folded in, and re-offering is a no-op. Per-round work
    drops from shuffling O(E) neighbor-label rows to O(edges incident to the
    frontier): round 1 pays the full cost, later rounds shrink geometrically
    with the delta — at 10^12 edges the tail rounds of the dense form are
    each a full-graph shuffle for a handful of label moves. Plan shape per
    round: the und⋈frontier probe reuses und's dst-partitioning (und is
    checkpointed pre-partitioned; the frontier build side is delta-sized),
    the candidate groupBy shuffles only frontier-incident rows, and the
    labels⟕cands merge is co-partitioned on nid (both sides hash(nid) with
    the same partition count) — ONE delta-sized exchange per round, zero
    O(V)/O(E) exchanges after round 1.

    ``frontier=False`` keeps the dense self∪neighbors groupBy form (the
    reference's literal per-round statement) for A/B."""
    from pyspark.sql import Observation

    # parallel edges are common (the same pair matches under several rules /
    # identifier types — exact sig keys AND a passing LSH score); topology is
    # all CC needs, so dedup ONCE on the 16-byte long pair before the loop —
    # every round's neighbor join and groupBy shrinks by the multiplicity.
    # Order matters for the exchange count: double FIRST, repartition on the
    # loop's join key, THEN dedup — HashPartitioning(dst) satisfies the
    # dedup's ClusteredDistribution(src, dst) (equal pairs share a dst), so
    # the aggregate reuses the repartition exchange and the whole und build
    # is ONE shuffle instead of two (distinct-then-repartition exchanged the
    # edge list twice; plan-asserted in tests).
    und = (
        edges.select(F.col("left_nid").alias("src"), F.col("right_nid").alias("dst"))
        .union(edges.select(F.col("right_nid").alias("src"), F.col("left_nid").alias("dst")))
        .repartition("dst")
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True)
    )
    labels = nodes.select("nid", F.col("nid").alias("lid"))
    if frontier:
        # nid-partitioned so every round's labels⟕cands merge is exchange-free
        labels = labels.repartition("nid")
    labels = labels.localCheckpoint(eager=True)
    front = labels  # round 1: every node is active (offers its own label)
    iterations = 0
    converged = False
    rounds: list[dict] = []
    step = max(1, checkpoint_every)
    # layered tail rounds (frontier, unfused): once the frontier is small,
    # checkpoint ONLY the changed labels and keep the full label table as
    # base ⟕ overlay layers (all co-partitioned on nid — pure in-memory
    # coalesce scans, no exchange). The O(V) label rewrite per round was the
    # measured tail-round floor at 10M nodes (~4 s/round for a 2-row delta,
    # retail_10m_dense_final.json cc_rounds); a delta-sized write is ~free.
    # Layers cap at 3 (each round scans base + layers), then compact.
    layers: list[DataFrame] = []
    first_delta: int | None = None
    prev_delta: int | None = None
    for i in range(max_iters):
        t_round = time.time()
        iterations = i + 1
        if frontier:
            cands = (
                und.join(front.withColumnRenamed("nid", "dst").hint("shuffle_hash"), "dst", "inner")
                .groupBy(F.col("src").alias("nid"))
                .agg(F.min("lid").alias("cand"))
            )
            merged = labels.join(cands.hint("shuffle_hash"), "nid", "left").select(
                "nid",
                F.least(F.col("lid"), F.coalesce(F.col("cand"), F.col("lid"))).alias("lid"),
                F.col("lid").alias("cur"),
            )
        else:
            neighbor_labels = (
                und.join(labels.withColumnRenamed("nid", "dst").hint("shuffle_hash"), "dst", "inner")
                .select(F.col("src").alias("nid"), F.col("lid").alias("cand"),
                        F.lit(None).cast("long").alias("cur"))
            )
            self_labels = labels.select("nid", F.col("lid").alias("cand"), F.col("lid").alias("cur"))
            merged = (
                self_labels.unionByName(neighbor_labels)
                .groupBy("nid")
                .agg(F.min("cand").alias("lid"), F.max("cur").alias("cur"))
            )
        if (i + 1) % step and i != max_iters - 1:
            # fused round: LAZY localCheckpoint — no job yet (the next
            # checkpoint action materializes the whole fused chain as one
            # job), but the returned plan is a LogicalRDD LEAF, so Catalyst
            # analysis stays O(round). A persist() here caches data without
            # truncating the plan: each round references the last 2×+, and
            # tree traversals don't memoize shared DAG nodes, so fused
            # ANALYSIS cost grows exponentially in k (driver-side minutes at
            # k=3 for the star variant — measured, round 4). Freed when the
            # frame goes unreferenced (ContextCleaner), like any local
            # checkpoint.
            fused = merged.localCheckpoint(eager=False)
            labels = fused.select("nid", "lid")
            if frontier:
                front = fused.where(F.col("lid") < F.col("cur")).select("nid", "lid")
            continue
        obs = Observation(f"lp_{i}")
        delta_agg = F.sum(F.when(F.col("lid") != F.col("cur"), 1).otherwise(0)).alias("delta")
        layered = (
            frontier
            and step == 1
            and len(layers) < 3
            and first_delta is not None
            and prev_delta is not None
            and prev_delta <= max(1, first_delta // 4)
        )
        if layered:
            # write only the CHANGED labels; the full table stays the lazy
            # base⟕layers overlay (later layers win via sequential coalesce)
            changed = (
                merged.observe(obs, delta_agg)
                .where(F.col("lid") < F.col("cur"))
                .select("nid", "lid")
                .localCheckpoint(eager=True)
            )
            delta = obs.get["delta"]
            front = changed
            if delta:
                layers.append(changed)
                labels = labels.join(
                    changed.select("nid", F.col("lid").alias("_u")), "nid", "left"
                ).select("nid", F.coalesce("_u", "lid").alias("lid"))
        else:
            nxt = merged.observe(obs, delta_agg).select(
                "nid", "lid", (F.col("lid") < F.col("cur")).alias("_chg")
            )
            # the checkpoint IS the action that fills the observation
            nxt = nxt.localCheckpoint(eager=True)
            delta = obs.get["delta"]
            labels = nxt.select("nid", "lid")
            layers = []
            if frontier:
                # in-memory narrow filter over the checkpointed frame — no job
                front = nxt.where("_chg").select("nid", "lid")
        rounds.append({"sec": round(time.time() - t_round, 3), "delta": int(delta or 0)})
        if first_delta is None:
            first_delta = int(delta or 0)
        prev_delta = int(delta or 0)
        if not delta:
            converged = True
            break
    return CCResult(labels=labels, iterations=iterations, converged=converged,
                    path="hash_min", rounds=rounds)


def hash_min_lp(
    nodes: DataFrame, edges: DataFrame, max_iters: int = 30, checkpoint_every: int = 1,
    frontier: bool = True,
) -> CCResult:
    """Min-label propagation to convergence (sql/common/31; idr_run.py:440-481).

    labels ← nodes self-labeled; repeat: next = MIN(self ∪ neighbors' labels)
    grouped by node; stop when Σ(cur≠next)=0.

    Scale shape (beyond the reference's per-statement model):
    - iterates on dense LONG ids (see ``_with_long_ids``) — per-round shuffles
      carry 8-byte keys, not entity strings;
    - the undirected edge list is checkpointed ONCE, pre-partitioned on the
      join key, and reused every iteration;
    - the neighbor join is hinted SHUFFLE_HASH — the planner would otherwise
      broadcast the label table, which means a driver collect EVERY iteration
      (serial, and impossible at 10^9 labels anyway);
    - convergence is an ``Observation`` on the same job that materializes the
      next labels: ONE Spark action per iteration total, carrying each node's
      previous label through the aggregation (MAX(cur) — only the self row
      has it) instead of re-joining cur×next.
    """
    return _with_long_ids(
        _hash_min_lp_long, nodes, edges, max_iters=max_iters, checkpoint_every=checkpoint_every,
        frontier=frontier, disable_aqe=True,
    )


def _union_find_pairs(left: np.ndarray, right: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized union-find over one edge list: (node, component min) for
    every node that is not its component's minimum.

    Min-hooking plus pointer jumping on dense indices into the sorted node
    ids, so index order IS id order. Every pointer goes to a smaller index,
    so the forest stays acyclic and each root is its component's minimum.
    Each pass hooks every root that touches a smaller root across an edge
    onto the smallest such root (``np.minimum.at`` — duplicates resolve to
    the minimum), then jumps pointers until every node points straight at a
    root. The root count falls every pass. The output has the input's
    components and one pair per non-root node, so never more pairs than
    distinct non-self-loop edges (a spanning forest)."""
    ids, inv = np.unique(np.concatenate([left, right]), return_inverse=True)
    a, b = inv[: len(left)], inv[len(left):]
    parent = np.arange(len(ids))
    while True:
        pa, pb = parent[a], parent[b]
        live = pa != pb
        if not live.any():
            break
        pa, pb = pa[live], pb[live]
        np.minimum.at(parent, np.maximum(pa, pb), np.minimum(pa, pb))
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
    child = np.flatnonzero(parent != np.arange(len(ids)))
    return ids[child], ids[parent[child]]


def _contract_partition(batches):
    """mapInArrow body: one union-find over a whole edge partition, emitted
    as (u=node, v=component min) star pairs. The caller bounds the partition
    at ``_STAR_CONTRACT_MAX_EDGES`` rows."""
    import pyarrow as pa

    left, right = [], []
    for rb in batches:
        left.append(rb.column(0).to_numpy(zero_copy_only=False))
        right.append(rb.column(1).to_numpy(zero_copy_only=False))
    if not left:
        return
    u, v = _union_find_pairs(np.concatenate(left), np.concatenate(right))
    if len(u):
        yield pa.RecordBatch.from_arrays([pa.array(u), pa.array(v)], names=["u", "v"])


def _alternating_star_long(
    nodes: DataFrame, edges: DataFrame, max_iters: int, checkpoint_every: int
) -> CCResult:
    """Large/small-star on long ids; see alternating_star for the contract."""
    from pyspark.sql import Observation

    def _canon(df: DataFrame, a: str, b: str) -> DataFrame:
        return (
            df.filter(F.col(a) != F.col(b))
            .select(F.greatest(a, b).alias("u"), F.least(a, b).alias("v"))
            .distinct()
        )

    def _nbrs(pairs_df: DataFrame) -> DataFrame:
        return pairs_df.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
            pairs_df.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )

    def _with_min(nbrs: DataFrame) -> DataFrame:
        # m(u) = min(Γ(u) ∪ {u}); SHUFFLE_HASH so the per-round min table is
        # never driver-broadcast (serial collect per round, size-unbounded)
        mins = nbrs.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
        return nbrs.join(mins.hint("shuffle_hash"), "src")

    def _signature():
        """(count, order-insensitive content hash) — set-equality fingerprint;
        one Observation, no extra jobs. Collision-stopping-early risk ~2^-64."""
        return [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ]

    # the input's signature rides on the checkpoint that materializes it, so
    # a first round that changes nothing converges at iteration 1
    obs_in = Observation("star_input")
    pairs = _canon(edges, "left_nid", "right_nid").observe(obs_in, *_signature()).localCheckpoint(eager=True)
    prev_sig = (obs_in.get["n"], obs_in.get["h"])
    contraction: dict = {}
    if prev_sig[0] <= _STAR_CONTRACT_MAX_EDGES:
        # pre-pass: one union-find over the whole (bounded) edge list in one
        # task; the star forest it emits is already the loop's fixed point
        t_pre = time.time()
        obs_c = Observation("star_contracted")
        pairs = (
            pairs.coalesce(1)
            .mapInArrow(_contract_partition, "u long, v long")
            .observe(obs_c, *_signature())
            .localCheckpoint(eager=True)
        )
        contraction = {"sec": round(time.time() - t_pre, 3), "edges_in": int(prev_sig[0]),
                       "pairs_out": int(obs_c.get["n"])}
        prev_sig = (obs_c.get["n"], obs_c.get["h"])
    iterations = 0
    converged = False
    rounds: list[dict] = []
    step = max(1, checkpoint_every)
    for i in range(max_iters):
        t_round = time.time()
        iterations = i + 1
        # ---- large-star(u): emit (v, m(u)) for strictly larger neighbors v>u
        lg = _with_min(_nbrs(pairs)).filter(F.col("dst") > F.col("src"))
        large = _canon(lg.select(F.col("dst").alias("a"), F.col("m").alias("b")), "a", "b")
        # ---- small-star(u): emit (v, m(u)) for neighbors v≤u, plus (u, m(u))
        sm = _with_min(_nbrs(large))
        small_edges = sm.filter(F.col("dst") < F.col("src")).select(
            F.col("dst").alias("a"), F.col("m").alias("b")
        )
        self_edges = sm.select(F.col("src").alias("a"), F.col("m").alias("b")).distinct()
        small = _canon(small_edges.union(self_edges), "a", "b")
        if (i + 1) % step and i != max_iters - 1:
            # fused round: LAZY localCheckpoint (see _hash_min_lp_long). The
            # analysis blowup is far worse here — one star round references
            # the previous round's plan ~16× (each _with_min visits its input
            # twice, large/small each stack two of them), so persist()-only
            # fusion costs ~16^k plan-tree traversals per analysis: measured
            # 9+ DRIVER-side minutes at k=3 on a 12-edge chain. The lazy
            # checkpoint truncates the analyzed plan to a leaf while still
            # deferring execution to the next checkpoint action.
            pairs = small.localCheckpoint(eager=False)
            continue
        obs = Observation(f"star_{i}")
        small = small.observe(obs, *_signature()).localCheckpoint(eager=True)
        sig = (obs.get["n"], obs.get["h"])
        pairs = small
        rounds.append({"sec": round(time.time() - t_round, 3), "pairs": int(sig[0])})
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    labels = (
        nodes.join(
            pairs.groupBy("u").agg(F.min("v").alias("lid")).withColumnRenamed("u", "nid"),
            "nid",
            "left",
        ).select("nid", F.coalesce("lid", "nid").alias("lid"))
    )
    return CCResult(labels=labels, iterations=iterations, converged=converged, path="star",
                    rounds=rounds, contraction=contraction)


def alternating_star(
    nodes: DataFrame, edges: DataFrame, max_iters: int = 50, checkpoint_every: int = 1
) -> CCResult:
    """Large-star/small-star connected components (Kiveris et al. SoCC'14).

    Maintains a parent forest as an edge list child→parent with parent<child.
    Each round:

      large-star: for every node u, connect every strictly-larger neighbor v
                  to min(N(u) ∪ {u});
      small-star: connect every parent-or-smaller neighbor to the minimum.

    Converges when the edge set reaches a fixed point (every node points at
    its component min). O(log²) rounds; each round is groupBy-min + join —
    shuffle-friendly and skew-handled by AQE. Iterates on dense LONG ids
    (``_with_long_ids``): label order during the loop is arbitrary, and the
    final one-shot remap restores resolved_id = MIN(entity_key) string
    semantics (sql/common/40:2).

    A graph of at most ``_STAR_CONTRACT_MAX_EDGES`` canonical edges starts
    the loop from a contracted forest: one ``mapInArrow`` task runs
    ``_union_find_pairs`` over the whole edge list and emits (node,
    component min) pairs — the same components, at most one pair per edge.
    The forest's (count, hash) signature is observed on the checkpoint that
    materializes it, so the first round reproduces its input and the loop
    stops at iteration 1. Larger graphs run the loop on the canonical edges,
    whose signature is observed the same way. ``CCResult.contraction``
    records the pre-pass's edges in and pairs out (empty when it did not
    run), ``CCResult.rounds`` each round's pair count."""
    return _with_long_ids(
        _alternating_star_long, nodes, edges, max_iters=max_iters, checkpoint_every=checkpoint_every
    )


def _local_union_find(nodes: DataFrame, edges: DataFrame, max_edges: int) -> CCResult | None:
    """Bounded small-graph fast path: collect the (sub)graph to the driver and
    run union-find, returning the same (entity_key, label=MIN entity_key)
    contract as the distributed loops — or ``None`` when the graph exceeds
    ``max_edges`` (caller falls back to the distributed path).

    Exists for the INCR shape: a delta's impacted subgraph is delta-sized BY
    DESIGN (thousands of edges), but a distributed hash-min loop still pays
    O(diameter) scheduler round-trips — a ~10-15 s fixed floor that dwarfs the
    actual work. Collecting ≤ max_edges edges over Arrow is a bounded,
    metadata-scale transfer (500k edges ≈ ~40 MB of keys; dict union-find on
    500k edges measures ~1.4 s) REGARDLESS of corpus size: at 10^12 turns the
    cap still holds because the subgraph tracks the delta, not the corpus.
    The collects are limit-guarded so an unexpectedly large subgraph
    (mass-merge delta) costs one truncated scan, never an OOM."""
    node_cap = 2 * max_edges + 10_000  # isolated singletons beyond endpoints
    # the two limit-guarded collects are independent jobs — overlap them from
    # a 2-thread pool so the node scan back-fills the edge job's tail (guide
    # §2.6); each is Arrow-batched and bounded as before. Pool threads do not
    # see the caller's Spark local properties, so each callable is wrapped to
    # carry them: the collects' jobs land in the caller's job group (stage).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    inherit = inheritable_thread_target(nodes.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as ex:
        f_e = ex.submit(inherit(
            lambda: edges.select("left_entity_key", "right_entity_key").limit(max_edges + 1).toPandas()
        ))
        f_n = ex.submit(inherit(lambda: nodes.select("entity_key").limit(node_cap + 1).toPandas()))
        e, n = f_e.result(), f_n.result()
    if len(e) > max_edges:
        return None
    if len(n) > node_cap:
        return None
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    left_keys = e["left_entity_key"].to_numpy()
    right_keys = e["right_entity_key"].to_numpy()
    for a0, b0 in zip(left_keys, right_keys):
        a, b = find(a0), find(b0)
        if a != b:
            # union by key order: smaller string becomes the root, so every
            # root IS its component's MIN key (resolved_id contract,
            # sql/common/40:2) with no second pass
            if b < a:
                a, b = b, a
            parent[b] = a
    keys = set(n["entity_key"])
    keys.update(left_keys)
    keys.update(right_keys)
    ordered = sorted(keys)
    import pandas as pd

    # Arrow-path createDataFrame (a pandas frame, not a row list): the row
    # list pickles every tuple through the JVM one by one — measured ~1 s+ at
    # 10^5 labels, pure driver serialization; the Arrow batch is ~free
    pdf = pd.DataFrame({"entity_key": ordered, "label": [find(k) for k in ordered]})
    spark = nodes.sparkSession
    df = spark.createDataFrame(pdf, "entity_key string, label string")
    return CCResult(labels=df, iterations=1, converged=True, path="local_union_find")


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    algorithm: str = "auto",
    max_iters: int = 30,
    checkpoint_every: int = 1,
    edge_count_hint: int | None = None,
    star_threshold: int = 100_000_000,
    hash_min_budget: int = 8,
    local_max_edges: int = 0,
    frontier: bool = True,
) -> CCResult:
    """``auto`` (the production default) is a hybrid: graphs shaped like the
    reference's anchor-star output converge under hash-min in ~6 rounds
    (benchmark-results.md:35), so try that first within ``hash_min_budget``;
    a graph whose diameter exceeds the budget (long merge chains) escalates
    to large-star/small-star, whose round count is O(log²) regardless of
    diameter. Above ``star_threshold`` edges skip the probe. The threshold
    sits high because the probe is cheap AND never wasted: a hash-min round
    is ~2 shuffles vs a star round's ~8 (measured 24.2 s vs 42.4 s to
    convergence on the same 9.46M-edge graph, local[16]), and on escalation
    the probe's partial labels contract the graph the star loop runs on.

    ``local_max_edges > 0`` enables the bounded driver-side union-find fast
    path (see ``_local_union_find``). The pipeline passes it in BOTH modes
    (plans/pipeline.py run loop) — the gate is the MEASURED edge count, not
    the mode, mirroring AQE's size-adaptive planning: INCR subgraphs are
    delta-sized by design and usually qualify; a FULL graph qualifies only
    when the whole corpus is tiny (corpus-scale graphs exceed the cap and
    run distributed). ``CCResult.path`` records which path actually ran, and
    the pipeline/bench surface it as ``cc_path`` so a timing is always
    attributable."""
    if local_max_edges > 0 and (edge_count_hint is None or edge_count_hint <= local_max_edges):
        local = _local_union_find(nodes, edges, local_max_edges)
        if local is not None:
            return local
    if algorithm == "auto":
        n = edge_count_hint if edge_count_hint is not None else edges.count()
        if n > star_threshold:
            algorithm = "star"
        else:
            probe = hash_min_lp(
                nodes, edges, max_iters=min(hash_min_budget, max_iters),
                checkpoint_every=checkpoint_every, frontier=frontier,
            )
            if probe.converged:
                return probe
            # the probe is never wasted: after k hash-min rounds every node
            # carries the min key within k hops — a valid partial CONTRACTION.
            # Escalate star on the contracted graph (nodes = partial labels,
            # usually a small fraction of the original) and compose the maps.
            # Correct because a component's min node always keeps label=self
            # under hash-min, so representatives preserve the component min.
            plabels = probe.labels  # (entity_key, label), already checkpointed
            cedges = (
                edges.join(
                    plabels.withColumnRenamed("entity_key", "left_entity_key")
                    .withColumnRenamed("label", "_ll"),
                    "left_entity_key",
                )
                .join(
                    plabels.withColumnRenamed("entity_key", "right_entity_key")
                    .withColumnRenamed("label", "_rl"),
                    "right_entity_key",
                )
                .filter(F.col("_ll") != F.col("_rl"))
                .select(F.col("_ll").alias("left_entity_key"), F.col("_rl").alias("right_entity_key"))
                .distinct()
            )
            cnodes = plabels.select(F.col("label").alias("entity_key")).distinct()
            star = alternating_star(
                cnodes, cedges, max_iters=max(max_iters, 50), checkpoint_every=checkpoint_every
            )
            final = (
                plabels.join(
                    star.labels.withColumnRenamed("label", "_final")
                    .withColumnRenamed("entity_key", "label"),
                    "label",
                )
                .select("entity_key", F.col("_final").alias("label"))
            )
            return CCResult(
                labels=final,
                iterations=probe.iterations + star.iterations,
                converged=star.converged,
                path="hash_min+star",
                rounds=probe.rounds + star.rounds,
                contraction=star.contraction,
            )
    if algorithm == "star":
        return alternating_star(nodes, edges, max_iters=max(max_iters, 50), checkpoint_every=checkpoint_every)
    return hash_min_lp(nodes, edges, max_iters=max_iters, checkpoint_every=checkpoint_every, frontier=frontier)
