"""Preflight data-level validation (≙ reference idr_run.py:126-171 /
IDR_ValidateMetadata.py) + the checkpoint_every CC-round-fusion knob."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sql_identity_resolution_spark import EngineConfig, IDRPipeline
from sql_identity_resolution_spark.config import AttributeMapping, IdentifierMapping, Rule, SourceTable
from sql_identity_resolution_spark.datagen import write_parquet


def _write_src(tmp_path, name="src.parquet"):
    p = tmp_path / name
    write_parquet(
        pd.DataFrame(
            {
                "cust_id": [1, 2],
                "email": ["a@x.com", "b@x.com"],
                "updated_at": pd.to_datetime(["2026-01-01", "2026-01-02"]),
            }
        ),
        str(p),
    )
    return str(p)


def _cfg(tmp_path, **src_kw):
    defaults = dict(
        table_id="crm",
        entity_key_expr="CAST(cust_id AS STRING)",
        watermark_column="updated_at",
        path=_write_src(tmp_path),
    )
    defaults.update(src_kw)
    return EngineConfig(
        warehouse=str(tmp_path / "wh"),
        sources=[SourceTable(**defaults)],
        rules=[Rule(rule_id="r1", identifier_type="EMAIL")],
        mappings=[IdentifierMapping(table_id="crm", identifier_type="EMAIL", identifier_value_expr="email")],
    )


def test_preflight_passes_on_valid_config(spark, tmp_path):
    assert IDRPipeline(spark, _cfg(tmp_path)).preflight() == []


def test_preflight_names_broken_path(spark, tmp_path):
    cfg = _cfg(tmp_path, path=str(tmp_path / "nope.parquet"))
    with pytest.raises(ValueError, match=r"source crm: failed to load"):
        IDRPipeline(spark, cfg).preflight()


def test_preflight_names_missing_watermark_column(spark, tmp_path):
    cfg = _cfg(tmp_path, watermark_column="no_such_col")
    with pytest.raises(ValueError, match=r"watermark column 'no_such_col'"):
        IDRPipeline(spark, cfg).preflight()


def test_preflight_names_unresolvable_entity_key_expr(spark, tmp_path):
    cfg = _cfg(tmp_path, entity_key_expr="CAST(bogus_col AS STRING)")
    with pytest.raises(ValueError, match=r"entity_key_expr"):
        IDRPipeline(spark, cfg).preflight()


def test_preflight_names_unresolvable_mapping_expr(spark, tmp_path):
    cfg = _cfg(tmp_path)
    cfg.mappings[0].identifier_value_expr = "LOWER(missing_col)"
    with pytest.raises(ValueError, match=r"mapping crm/EMAIL"):
        IDRPipeline(spark, cfg).preflight()


def test_preflight_names_unresolvable_attribute_expr(spark, tmp_path):
    cfg = _cfg(tmp_path)
    cfg.attributes.append(
        AttributeMapping(attribute_name="email", table_id="crm", attribute_expr="typo_col")
    )
    with pytest.raises(ValueError, match=r"attribute email"):
        IDRPipeline(spark, cfg).preflight()


def test_preflight_warns_on_empty_source(spark, tmp_path):
    p = tmp_path / "empty.parquet"
    write_parquet(
        pd.DataFrame(
            {"cust_id": pd.array([], dtype="int64"), "email": pd.array([], dtype="string"),
             "updated_at": pd.to_datetime(pd.Series([], dtype="object"))}
        ),
        str(p),
    )
    cfg = _cfg(tmp_path, path=str(p))
    warnings = IDRPipeline(spark, cfg).preflight()
    assert any("is empty" in w for w in warnings)


def test_preflight_check_data_false_skips_loads(spark, tmp_path):
    cfg = _cfg(tmp_path, path=str(tmp_path / "nope.parquet"))
    assert IDRPipeline(spark, cfg).preflight(check_data=False) == []


# --------------------------------------------------------------- checkpoint_every


def _chain(spark, n=12):
    """Path graph e0–e1–…–e(n-1): diameter n−1, worst case for hash-min."""
    nodes = spark.createDataFrame([(f"e{i:03d}",) for i in range(n)], "entity_key string")
    edges = spark.createDataFrame(
        [(f"e{i:03d}", f"e{i+1:03d}") for i in range(n - 1)],
        "left_entity_key string, right_entity_key string",
    )
    return nodes, edges


@pytest.mark.parametrize("algo", ["hash_min", "star"])
def test_checkpoint_every_fuses_rounds_same_labels(spark, algo):
    from sql_identity_resolution_spark.operators.graph import alternating_star, hash_min_lp

    fn = hash_min_lp if algo == "hash_min" else alternating_star
    nodes, edges = _chain(spark, 12)
    base = fn(nodes, edges, max_iters=40, checkpoint_every=1)
    fused = fn(nodes, edges, max_iters=40, checkpoint_every=3)
    assert base.converged and fused.converged
    want = {(r["entity_key"], r["label"]) for r in base.labels.collect()}
    got = {(r["entity_key"], r["label"]) for r in fused.labels.collect()}
    assert got == want
    assert len({lbl for _, lbl in got}) == 1  # one component, labeled by its min
    # fused convergence is only detected at multiples of k (or the last round)
    assert fused.iterations % 3 == 0 or fused.iterations == 40


def test_checkpoint_every_runs_fewer_jobs(spark):
    """The knob must be OBSERVABLE in the job count: k=4 fuses 4 rounds per
    action. Measured with AQE off — under AQE every shuffle materialization is
    its own job, so action count (what the knob controls) is masked."""
    from sql_identity_resolution_spark.operators.graph import hash_min_lp

    nodes, edges = _chain(spark, 12)
    sc = spark.sparkContext

    def jobs_during(k):
        group = f"cc-jobs-k{k}"
        sc.setJobGroup(group, group, False)
        try:
            res = hash_min_lp(nodes, edges, max_iters=40, checkpoint_every=k)
        finally:
            sc.setJobGroup("", "", False)
        assert res.converged
        return len(sc.statusTracker().getJobIdsForGroup(group))

    aqe_was = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        j1 = jobs_during(1)
        j4 = jobs_during(4)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
    # 12 LP rounds: ~1 action/round at k=1 vs ~1 action per 4 rounds at k=4
    assert j4 <= j1 / 2, f"expected fused rounds to halve jobs: k=1→{j1}, k=4→{j4}"


# ----------------------------------------------------- INCR local fast path


def test_local_union_find_matches_distributed(spark):
    """Bounded driver union-find must reproduce the distributed labels exactly
    (label = MIN entity_key per component), including isolated nodes."""
    from sql_identity_resolution_spark.operators.graph import (
        connected_components,
        hash_min_lp,
    )

    nodes, edges = _chain(spark, 12)
    # add a disjoint triangle and an isolated singleton
    nodes = nodes.union(spark.createDataFrame([("t1",), ("t2",), ("t3",), ("zzz_alone",)], "entity_key string"))
    edges = edges.union(
        spark.createDataFrame(
            [("t1", "t2"), ("t2", "t3"), ("t3", "t1")],
            "left_entity_key string, right_entity_key string",
        )
    )
    dist = hash_min_lp(nodes, edges, max_iters=40)
    local = connected_components(nodes, edges, local_max_edges=1000)
    assert local.converged and local.iterations == 1
    want = {(r["entity_key"], r["label"]) for r in dist.labels.collect()}
    got = {(r["entity_key"], r["label"]) for r in local.labels.collect()}
    assert got == want
    assert ("zzz_alone", "zzz_alone") in got


def test_local_union_find_cap_falls_back_to_distributed(spark):
    """A subgraph over the cap must take the distributed path (limit guard),
    with identical labels."""
    from sql_identity_resolution_spark.operators.graph import connected_components

    nodes, edges = _chain(spark, 12)
    res = connected_components(nodes, edges, local_max_edges=3)  # 11 edges > 3
    assert res.converged
    assert res.iterations > 1  # distributed rounds ran, not the 1-shot local path
    got = {(r["entity_key"], r["label"]) for r in res.labels.collect()}
    assert got == {(f"e{i:03d}", "e000") for i in range(12)}


# ------------------------------------------------------------- frontier LP


def test_frontier_matches_dense_hash_min(spark):
    """Frontier (vertex-activation) hash-min must produce IDENTICAL labels to
    the dense reference-literal form on an adversarial mix (long chain + star
    + singletons), at k=1 and with fused rounds."""
    import random

    from sql_identity_resolution_spark.operators.graph import hash_min_lp

    rng = random.Random(7)
    rows = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(14)]           # chain
    rows += [("hub", f"s{i:02d}") for i in range(20)]                  # star
    rows += [(f"a{rng.randrange(30):02d}", f"a{rng.randrange(30):02d}") for _ in range(40)]
    rows = [(a, b) for a, b in rows if a != b]
    keys = sorted({k for r in rows for k in r} | {"iso1", "iso2"})
    nodes = spark.createDataFrame([(k,) for k in keys], "entity_key string")
    edges = spark.createDataFrame(rows, "left_entity_key string, right_entity_key string")
    for k in (1, 3):
        dense = hash_min_lp(nodes, edges, max_iters=40, checkpoint_every=k, frontier=False)
        front = hash_min_lp(nodes, edges, max_iters=40, checkpoint_every=k, frontier=True)
        assert dense.converged and front.converged
        got_d = {(r["entity_key"], r["label"]) for r in dense.labels.collect()}
        got_f = {(r["entity_key"], r["label"]) for r in front.labels.collect()}
        assert got_f == got_d
    # per-round decomposition is recorded and the delta hits 0 at convergence
    assert front.rounds and front.rounds[-1]["delta"] == 0
    assert all(set(r) == {"sec", "delta"} for r in front.rounds)


# ------------------------------------------------- star union-find pre-pass


def _adversarial_rows():
    """A 60-node chain, a 25-leaf hub star, duplicate edges (both
    orientations) and self-loops; callers add isolated nodes."""
    rows = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(59)]
    rows += [("hub", f"s{i:02d}") for i in range(25)]
    rows += [("c010", "c011"), ("c011", "c010"), ("s03", "hub"), ("hub", "s03")]
    rows += [("c020", "c020"), ("hub", "hub"), ("loop", "loop")]
    return rows


def test_union_find_pairs_kernel_matches_dict_union_find():
    """The per-partition numpy kernel: same components as a dict union-find,
    each non-root node paired with its component min, at most one pair per
    distinct non-self-loop edge."""
    import numpy as np

    from sql_identity_resolution_spark.operators.graph import _union_find_pairs

    rng = np.random.default_rng(11)
    for _ in range(50):
        n, m = int(rng.integers(1, 60)), int(rng.integers(0, 120))
        left, right = rng.integers(0, n, m) * 3 + 5, rng.integers(0, n, m) * 3 + 5
        parent: dict = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for a, b in zip(left.tolist(), right.tolist()):
            a, b = find(a), find(b)
            if a != b:
                parent[max(a, b)] = min(a, b)
        want = {(x, find(x)) for x in set(left.tolist()) | set(right.tolist()) if find(x) != x}
        u, v = _union_find_pairs(left, right)
        assert set(zip(u.tolist(), v.tolist())) == want
        assert len(u) <= len({(a, b) for a, b in zip(left.tolist(), right.tolist()) if a != b})


def _adversarial_graph(spark, partitions):
    rows = _adversarial_rows()
    keys = sorted({k for r in rows for k in r} | {"iso1", "iso2"})
    nodes = spark.createDataFrame([(k,) for k in keys], "entity_key string")
    edges = spark.createDataFrame(rows, "left_entity_key string, right_entity_key string")
    edges = edges.repartition(partitions) if partitions > 1 else edges.coalesce(1)
    canonical = {frozenset(r) for r in rows if r[0] != r[1]}
    return nodes, edges, canonical


@pytest.mark.parametrize("partitions", [8, 1])
def test_star_prepass_matches_local_union_find(spark, partitions):
    """The contracted star loop labels an adversarial graph exactly as the
    driver union-find does, whether its edges are spread over 8 partitions
    or sit in one. The pre-pass leaves a star forest either way, so the loop
    converges at its first round."""
    from sql_identity_resolution_spark.operators.graph import _local_union_find, alternating_star

    nodes, edges, canonical = _adversarial_graph(spark, partitions)
    want = {(r["entity_key"], r["label"]) for r in _local_union_find(nodes, edges, 1000).labels.collect()}
    res = alternating_star(nodes, edges, max_iters=40)
    assert res.converged
    assert {(r["entity_key"], r["label"]) for r in res.labels.collect()} == want
    assert res.contraction["edges_in"] == len(canonical)
    assert res.contraction["pairs_out"] <= res.contraction["edges_in"]
    assert res.rounds and all(set(r) == {"sec", "pairs"} for r in res.rounds)
    assert res.iterations == len(res.rounds) == 1
    # a star forest: one pair per node that is not its component's min
    assert res.contraction["pairs_out"] == len(want) - len({lbl for _, lbl in want})


def test_star_above_contract_cap_skips_prepass(spark, monkeypatch):
    """A graph above the pre-pass cap runs the star loop on its canonical
    edges, with no pre-pass, and still converges to the component min."""
    from sql_identity_resolution_spark.operators import graph

    monkeypatch.setattr(graph, "_STAR_CONTRACT_MAX_EDGES", 0)
    nodes, edges = _chain(spark, 3)
    res = graph.alternating_star(nodes, edges, max_iters=40)
    assert res.converged and res.contraction == {}
    assert sorted((r["entity_key"], r["label"]) for r in res.labels.collect()) == [
        ("e000", "e000"), ("e001", "e000"), ("e002", "e000")]
    assert res.iterations == len(res.rounds) > 1


def test_local_union_find_collects_keep_job_group(spark):
    """The driver union-find's two collects run on pool threads; their jobs
    must still land in the caller's job group (the pipeline's stage)."""
    from sql_identity_resolution_spark.operators.graph import _local_union_find

    nodes, edges = _chain(spark, 12)
    sc = spark.sparkContext
    group = "uf-collects-job-group"
    sc.setJobGroup(group, group, False)
    try:
        assert _local_union_find(nodes, edges, 1000) is not None
    finally:
        sc.setJobGroup("", "", False)
    # one job (at least) per limit-guarded collect; none without the fix
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2
