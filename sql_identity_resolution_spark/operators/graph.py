"""Stage 30/31: impacted subgraph + connected components.

``connected_components`` labels every node with the MIN entity_key of its
component (the reference's resolved_id, sql/common/40:2) along one of three
routes, chosen by observed size alone:

- a graph small enough for the driver is collected once and labeled by
  ``_local_union_find``;
- otherwise one long-id pass (``_with_long_ids`` → ``_cc_long``) builds the
  undirected edge list once and observes its size. A graph of at most
  ``_STAR_CONTRACT_MAX_EDGES`` canonical edges is union-found in one
  ``mapInArrow`` task — a vectorized numpy kernel replacing the loop — and
  the call ends there;
- a larger graph takes up to ``_PROBE_ROUNDS`` rounds of hash-min label
  propagation — the reference's algorithm (``sql/common/31``), which the
  reference's anchor-star edges converge in a handful of rounds (observed 6
  at 10M rows, docs/performance/benchmark-results.md:35). An unconverged
  probe contracts the pairs onto its partial labels, and large-star/
  small-star rounds (Kiveris et al., SoCC'14: O(log² n) rounds regardless
  of diameter) run on them until the forest stops changing or the same
  size gate ends the loop with the one-task union-find.

The rounds are driver-controlled DataFrame loops with ``localCheckpoint()``
to truncate lineage (the reference's table-swap per iteration,
idr_run.py:480-481, plays the same role). Every round materializes once and
checks convergence, as the reference does (idr_run.py:440-481), pulling
exactly ONE observation per materialization to the driver.
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
    # bounded driver union-find fast path: "local_union_find", or the
    # distributed steps that ran, in order, joined by "+" — "hash_min"
    # (probe rounds), "star" (star rounds), "contracted" (one-task
    # union-find); e.g. "contracted", "hash_min", "hash_min+star+contracted"
    path: str
    # one entry per iteration, in order — hash-min: {"sec", "delta": labels
    # changed}; star: {"sec", "pairs": forest pairs after the round};
    # contraction: {"sec", "edges_in", "pairs_out"} — the scaling
    # decomposition the bench publishes (empty for the local path)
    rounds: list = field(default_factory=list)


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


# node count at or below which the string→long id mapping broadcasts into
# the edge translation joins (~30 B/row ⇒ ≤120 MB at the cap): the two
# per-endpoint joins then run map-side, removing TWO full edge-list
# exchanges from CC setup — at 400k convs those exchanges were a bigger
# non-scaling term than the LP rounds themselves (cc_rounds decomposition,
# campaigns_r5/pair1). Above the cap (the 10^9-node regime) the joins
# fall back to shuffles, which is the only shape that works there.
_CC_BROADCAST_MAX_NODES = 4_000_000

# the size gate: a canonical edge list this small is union-found in ONE
# Python task (coalesce(1) + mapInArrow), and that ends the call. The kernel
# holds ~100 B per edge (measured peak: +101 MB at 1M edges, +405 MB at 4M;
# ~1 s per 1M edges on one core), so the cap bounds the worker's memory,
# which sits outside Spark's memory manager. A kernel per partition of a
# many-partition edge list leaves the cross-partition structure to the
# loop, which then takes as many rounds as without it (measured 9-10 at
# 4-32 partitions), so larger graphs run the rounds until they fit.
_STAR_CONTRACT_MAX_EDGES = 1_000_000

# hash-min rounds the probe may take before it escalates to star. An
# anchor-star graph (the reference's edge shape) converges in 3 of them at
# 2.375M edges (tools/cc_anchor_star.py); no benchmark workload runs above
# the gate yet, so how many rounds real traffic there needs is unmeasured.
_PROBE_ROUNDS = 8


def _with_long_ids(nodes: DataFrame, edges: DataFrame, max_iters: int) -> CCResult:
    """Label the graph on dense LONG node ids, then restore string semantics.

    Entity keys are ~17-40 byte strings; every CC round shuffles and
    hash-joins the label or pair table, so iterating on 8-byte longs cuts
    the per-round shuffle width and hash cost severalfold (standard practice
    — GraphFrames/GraphX do the same). The long ids come from
    ``monotonically_increasing_id`` (no sort, no global coordination); their
    ORDER is arbitrary, so after convergence each component's long label is
    remapped to the MIN STRING key within the component — one groupBy + two
    joins ONCE, preserving the reference's resolved_id = MIN(entity_key)
    contract (sql/common/40:2) exactly.

    The translation joins broadcast the mapping when the node count is small
    enough (`_CC_BROADCAST_MAX_NODES`) — the count is a free in-memory action
    on the just-checkpointed frame, the same size-adaptive gate AQE applies.
    """
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
    res = _cc_long(mapping.select("nid"), ledges, max_iters)  # labels: (nid, lid)
    with_keys = res.labels.join(
        F.broadcast(mapping) if n_nodes <= _CC_BROADCAST_MAX_NODES else mapping, "nid"
    ).select("entity_key", "lid")
    reps = with_keys.groupBy("lid").agg(F.min("entity_key").alias("label"))
    res.labels = with_keys.join(reps.hint("shuffle_hash"), "lid").select("entity_key", "label")
    return res


def _signature():
    """(count, order-insensitive content hash) of a canonical (u > v) pair
    set — a set-equality fingerprint riding on the checkpoint that
    materializes the pairs, so it costs no extra job. Collision-stopping-
    early risk ~2^-64."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ]


def _canon(df: DataFrame, a: str, b: str) -> DataFrame:
    return (
        df.filter(F.col(a) != F.col(b))
        .select(F.greatest(a, b).alias("u"), F.least(a, b).alias("v"))
        .distinct()
    )


def _cc_long(nodes: DataFrame, edges: DataFrame, max_iters: int) -> CCResult:
    """The distributed CC driver on long ids: ``nodes`` (nid), ``edges``
    (left_nid, right_nid) → labels (nid, lid = component min nid).

    One undirected edge list ``und`` (both orientations, deduplicated,
    checkpointed pre-partitioned on ``dst``) serves every step, and the
    checkpoint that builds it observes its size and its canonical half's
    signature. Then one size gate decides, before every step:

    - a canonical pair list of at most ``_STAR_CONTRACT_MAX_EDGES`` is
      union-found in one task and the call ends there;
    - otherwise up to ``_PROBE_ROUNDS`` hash-min rounds run on ``und``;
      converged labels end the call;
    - an unconverged probe contracts the pairs onto its partial labels, and
      large/small-star rounds run on them until the signature repeats or the
      pairs fit the gate.

    ``max_iters`` bounds all of it: every hash-min round, star round and the
    contraction counts one iteration and appends one ``rounds`` entry."""
    from pyspark.sql import Observation

    spark = nodes.sparkSession
    base = nodes.select("nid", F.col("nid").alias("lid"))
    rounds: list[dict] = []
    obs = Observation("cc_edges")
    e = edges.filter(F.col("left_nid") != F.col("right_nid"))
    # AQE is off while the edge list is built and the probe runs (restored
    # on exit). Under AQE every exchange materializes as its own job, so
    # each hash-min round pays 2-3 scheduler barriers instead of 1, and its
    # joins are hinted with pre-arranged partitioning so re-planning adds
    # nothing (pair4: LP 21.1 → 13.4 s at local[16]); a checkpoint built
    # under AQE also loses its partitioning, so every round would exchange
    # ``und`` again. The star rounds are the opposite regime — un-hinted
    # shuffles whose tiny intermediates AQE coalesces; AQE off measured 3×
    # slower there — so they keep AQE on.
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # Order matters for the exchange count: double FIRST, repartition on
        # the probe's join key, THEN dedup — HashPartitioning(dst) satisfies
        # the dedup's ClusteredDistribution(src, dst) (equal pairs share a
        # dst), so the whole build is ONE shuffle.
        und = (
            e.select(F.col("left_nid").alias("src"), F.col("right_nid").alias("dst"))
            .union(e.select(F.col("right_nid").alias("src"), F.col("left_nid").alias("dst")))
            .repartition("dst")
            .dropDuplicates(["src", "dst"])
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("src") > F.col("dst"), F.xxhash64("src", "dst"))
                      .cast("decimal(38,0)")).alias("h"),
            )
            .localCheckpoint(eager=True)
        )
        # every undirected edge appears once per orientation; its canonical
        # (u > v) half is already distinct
        sig = (obs.get["n"] // 2, obs.get["h"])
        if sig[0] > _STAR_CONTRACT_MAX_EDGES:
            base, rounds = _hash_min(nodes, und, min(_PROBE_ROUNDS, max_iters))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    pairs = und.where(F.col("src") > F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v"))
    if rounds:
        if not rounds[-1]["delta"]:
            return CCResult(labels=base, iterations=len(rounds), converged=True,
                            path=_path(rounds), rounds=rounds)
        # the probe is never wasted: after k rounds every node carries the
        # min id within k hops — a valid partial contraction. A component's
        # min keeps label = self, so the pairs between labels have the same
        # components, with the same minima, as the graph.
        obs_p = Observation("cc_probe_pairs")
        lu = base.select(F.col("nid").alias("u"), F.col("lid").alias("lu"))
        lv = base.select(F.col("nid").alias("v"), F.col("lid").alias("lv"))
        pairs = (
            _canon(pairs.join(lu, "u").join(lv, "v"), "lu", "lv")
            .observe(obs_p, *_signature())
            .localCheckpoint(eager=True)
        )
        sig = (obs_p.get["n"], obs_p.get["h"])
    converged = False
    while len(rounds) < max_iters:
        t_round = time.time()
        if sig[0] <= _STAR_CONTRACT_MAX_EDGES:
            # the gate: one union-find over the whole (bounded) pair list in
            # one task; the star forest it emits is final
            obs_c = Observation(f"cc_contract_{len(rounds)}")
            pairs = (
                pairs.coalesce(1)
                .mapInArrow(_contract_partition, "u long, v long")
                .observe(obs_c, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            rounds.append({"sec": round(time.time() - t_round, 3), "edges_in": int(sig[0]),
                           "pairs_out": int(obs_c.get["n"])})
            converged = True
            break
        pairs, nxt = _star_round(pairs, len(rounds))
        rounds.append({"sec": round(time.time() - t_round, 3), "pairs": int(nxt[0])})
        if nxt == sig:
            converged = True
            break
        sig = nxt
    parents = pairs.groupBy(F.col("u").alias("lid")).agg(F.min("v").alias("root"))
    labels = base.join(parents, "lid", "left").select("nid", F.coalesce("root", "lid").alias("lid"))
    return CCResult(labels=labels, iterations=len(rounds), converged=converged,
                    path=_path(rounds), rounds=rounds)


def _path(rounds: list) -> str:
    """``CCResult.path`` from the steps that ran, in the order they run:
    "hash_min" (probe rounds), "star" (star rounds), "contracted" (the
    one-task union-find), joined by "+"."""
    steps = (("hash_min", "delta"), ("star", "pairs"), ("contracted", "edges_in"))
    return "+".join(name for name, key in steps if any(key in r for r in rounds))


def _hash_min(nodes: DataFrame, und: DataFrame, max_rounds: int) -> tuple[DataFrame, list]:
    """Up to ``max_rounds`` rounds of min-label propagation on long ids
    (sql/common/31; idr_run.py:440-481): labels ← self; each round takes
    MIN over self ∪ neighbours' labels and stops when Σ(cur≠next)=0.
    Returns (labels (nid, lid), one ``{"sec", "delta"}`` per round).

    Vertex-activation form (what Pregel/GraphX LP does): only labels that
    CHANGED last round are offered to neighbors. It yields the labels of the
    reference's dense self∪neighbors statement — labels under hash-min are
    monotonically non-increasing, so a node whose label did not change in
    round i-1 offers the same value it already offered in round i-2; its
    neighbors have it folded in, and re-offering is a no-op. Per-round work
    is O(edges incident to the frontier), not O(E): round 1 pays the full
    cost, later rounds shrink geometrically with the delta. Plan shape per
    round: the und⋈frontier probe reuses und's dst-partitioning (und is
    checkpointed pre-partitioned; the frontier build side is delta-sized),
    the candidate groupBy shuffles only frontier-incident rows, and the
    labels⟕cands merge is co-partitioned on nid (both sides hash(nid) with
    the same partition count) — ONE delta-sized exchange per round, zero
    O(V)/O(E) exchanges after round 1. Both joins are hinted SHUFFLE_HASH:
    the planner would otherwise broadcast the label table, a driver collect
    every round. Convergence is an ``Observation`` on the job that
    materializes the next labels: ONE Spark action per round."""
    from pyspark.sql import Observation

    # nid-partitioned so every round's labels⟕cands merge is exchange-free
    labels = nodes.select("nid", F.col("nid").alias("lid")).repartition("nid").localCheckpoint(eager=True)
    front = labels  # round 1: every node is active (offers its own label)
    rounds: list[dict] = []
    # layered tail rounds: once the frontier is small, checkpoint ONLY the
    # changed labels and keep the full label table as overlays on the last
    # full checkpoint, (labels ▷ changed) ∪ changed, all co-partitioned on
    # nid (Spark ≥ 4.1's union keeps its children's partitioning), so the
    # overlay adds no exchange. The O(V) label rewrite per round was the
    # measured tail-round floor at 10M nodes (~4 s/round for a 2-row delta,
    # retail_10m_dense_final.json cc_rounds); a delta-sized write is ~free.
    # Layers cap at 3 (each round scans base + layers), then compact. Not a
    # left join: a checkpoint keeps its plan's size estimate and a left
    # join's estimate is the product of its sides', so each layered round
    # doubled the estimate's bit length (Catalyst spent minutes on BigInt
    # products after ~12 layered rounds on a 60-node chain).
    layers: list[DataFrame] = []
    for i in range(max_rounds):
        t_round = time.time()
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
        obs = Observation(f"lp_{i}")
        delta_agg = F.sum(F.when(F.col("lid") != F.col("cur"), 1).otherwise(0)).alias("delta")
        if len(layers) < 3 and rounds and rounds[-1]["delta"] <= max(1, rounds[0]["delta"] // 4):
            # write only the CHANGED labels; the full table stays the lazy
            # base⟕layers overlay (later layers win via sequential coalesce)
            changed = (
                merged.observe(obs, delta_agg)
                .where(F.col("lid") < F.col("cur"))
                .select("nid", "lid")
                .localCheckpoint(eager=True)
            )
            delta = int(obs.get["delta"] or 0)
            front = changed
            if delta:
                layers.append(changed)
                labels = labels.join(changed, "nid", "left_anti").unionByName(changed)
        else:
            nxt = merged.observe(obs, delta_agg).select(
                "nid", "lid", (F.col("lid") < F.col("cur")).alias("_chg")
            )
            # the checkpoint IS the action that fills the observation
            nxt = nxt.localCheckpoint(eager=True)
            delta = int(obs.get["delta"] or 0)
            labels = nxt.select("nid", "lid")
            layers = []
            # in-memory narrow filter over the checkpointed frame — no job
            front = nxt.where("_chg").select("nid", "lid")
        rounds.append({"sec": round(time.time() - t_round, 3), "delta": delta})
        if not delta:
            break
    return labels, rounds


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


def _star_round(pairs: DataFrame, i: int) -> tuple[DataFrame, tuple]:
    """One large-star/small-star round (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14) over a canonical (u > v) pair list:

      large-star: for every node u, connect every strictly-larger neighbor v
                  to m(u) = min(N(u) ∪ {u});
      small-star: connect every parent-or-smaller neighbor, and u, to m(u).

    O(log²) rounds regardless of diameter; each round is groupBy-min + join —
    shuffle-friendly and skew-handled by AQE. Returns the checkpointed next
    pairs and their ``_signature``; an unchanged signature is the fixed point
    (every node points at its component min)."""
    from pyspark.sql import Observation

    def _nbrs(pairs_df: DataFrame) -> DataFrame:
        return pairs_df.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
            pairs_df.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )

    def _with_min(nbrs: DataFrame) -> DataFrame:
        # SHUFFLE_HASH so the per-round min table is never driver-broadcast
        # (serial collect per round, size-unbounded)
        mins = nbrs.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
        return nbrs.join(mins.hint("shuffle_hash"), "src")

    lg = _with_min(_nbrs(pairs)).filter(F.col("dst") > F.col("src"))
    large = _canon(lg.select(F.col("dst").alias("a"), F.col("m").alias("b")), "a", "b")
    sm = _with_min(_nbrs(large))
    small_edges = sm.filter(F.col("dst") < F.col("src")).select(
        F.col("dst").alias("a"), F.col("m").alias("b")
    )
    self_edges = sm.select(F.col("src").alias("a"), F.col("m").alias("b")).distinct()
    obs = Observation(f"star_{i}")
    small = (
        _canon(small_edges.union(self_edges), "a", "b")
        .observe(obs, *_signature())
        .localCheckpoint(eager=True)
    )
    return small, (obs.get["n"], obs.get["h"])


def _local_union_find(nodes: DataFrame, edges: DataFrame, max_edges: int) -> CCResult | None:
    """Bounded small-graph fast path: collect the (sub)graph to the driver and
    run union-find, returning the same (entity_key, label=MIN entity_key)
    contract as the distributed loops — or ``None`` when the graph exceeds
    ``max_edges`` (caller falls back to the distributed path).

    Exists for the INCR shape: a delta's impacted subgraph is delta-sized BY
    DESIGN (thousands of edges), but the distributed pass still pays its id
    mapping, edge build and union-find jobs — scheduler round-trips that
    dwarf the actual work. Collecting ≤ max_edges edges over Arrow is a
    bounded, metadata-scale transfer (500k edges ≈ ~40 MB of keys;
    factorize plus ``_union_find_pairs`` on 500k edges measures ~1.1 s)
    REGARDLESS of corpus size: at 10^12 turns the cap still holds because
    the subgraph tracks the delta, not the corpus. The collects are
    limit-guarded so an unexpectedly large subgraph (mass-merge delta) costs
    one truncated scan, never an OOM."""
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
    if len(e) > max_edges or len(n) > node_cap:
        return None
    import pandas as pd

    left = e["left_entity_key"].to_numpy()
    n_e = len(left)
    # integer codes in key order, so the kernel's component minimum IS the
    # MIN entity_key (resolved_id contract, sql/common/40:2). The kernel runs
    # on the codes, never on the strings: at the 500k-edge cap its np.unique
    # over Python strings took 1.42 s, no faster than a dict union-find, and
    # factorize plus the kernel on the codes 0.91 s (one core).
    codes, keys = pd.factorize(
        np.concatenate([left, e["right_entity_key"].to_numpy(), n["entity_key"].to_numpy()]),
        sort=True,
    )
    u, v = _union_find_pairs(codes[:n_e], codes[n_e : 2 * n_e])
    labels = keys.copy()
    labels[u] = keys[v]
    # Arrow-path createDataFrame (a pandas frame, not a row list): the row
    # list pickles every tuple through the JVM one by one — measured ~1 s+ at
    # 10^5 labels, pure driver serialization; the Arrow batch is ~free
    pdf = pd.DataFrame({"entity_key": keys, "label": labels})
    spark = nodes.sparkSession
    df = spark.createDataFrame(pdf, "entity_key string, label string")
    return CCResult(labels=df, iterations=1, converged=True, path="local_union_find")


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    algorithm: str = "auto",
    max_iters: int = 60,
    edge_count_hint: int | None = None,
    local_max_edges: int = 0,
) -> CCResult:
    """Label every node with the MIN entity_key of its component.

    ``local_max_edges > 0`` enables the bounded driver-side union-find fast
    path (see ``_local_union_find``). The pipeline passes it in BOTH modes
    (plans/pipeline.py run loop) — the gate is the MEASURED edge count, not
    the mode, mirroring AQE's size-adaptive planning: INCR subgraphs are
    delta-sized by design and usually qualify; a FULL graph qualifies only
    when the whole corpus is tiny.

    Everything else runs distributed in one long-id pass (``_cc_long``): a
    graph of at most ``_STAR_CONTRACT_MAX_EDGES`` canonical edges is
    union-found in one task; a larger one takes the hash-min probe and then
    star rounds until its pairs fit the same gate. Observed size alone picks
    the path: ``algorithm`` ("auto" or "star", for existing callers) changes
    nothing. The reference's labels are the component minima, so every path
    publishes the same rows. ``max_iters`` is the call's whole round budget,
    probe and star rounds and the contraction alike. ``CCResult.path``
    names the steps that ran, and the pipeline/bench surface it as
    ``cc_path`` so a timing is always attributable."""
    if algorithm not in ("auto", "star"):
        raise ValueError(f"connected_components: algorithm must be 'auto' or 'star', got {algorithm!r}")
    if local_max_edges > 0 and (edge_count_hint is None or edge_count_hint <= local_max_edges):
        local = _local_union_find(nodes, edges, local_max_edges)
        if local is not None:
            return local
    return _with_long_ids(nodes, edges, max_iters)
