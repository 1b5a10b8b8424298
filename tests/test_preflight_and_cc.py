"""Preflight data-level validation (≙ reference idr_run.py:126-171 /
IDR_ValidateMetadata.py) + every connected-components path against one
independent reference."""

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


# ----------------------------------------------------- INCR local fast path


def _chain(spark, n=12):
    """Path graph e0–e1–…–e(n-1): diameter n−1, worst case for hash-min."""
    nodes = spark.createDataFrame([(f"e{i:03d}",) for i in range(n)], "entity_key string")
    edges = spark.createDataFrame(
        [(f"e{i:03d}", f"e{i+1:03d}") for i in range(n - 1)],
        "left_entity_key string, right_entity_key string",
    )
    return nodes, edges


def test_local_union_find_matches_distributed(spark):
    """Bounded driver union-find must reproduce the reference labels exactly
    (label = MIN entity_key per component), including isolated nodes."""
    from sql_identity_resolution_spark.operators.graph import connected_components

    nodes, edges = _chain(spark, 12)
    # add a disjoint triangle and an isolated singleton
    nodes = nodes.union(spark.createDataFrame([("t1",), ("t2",), ("t3",), ("zzz_alone",)], "entity_key string"))
    triangle = [("t1", "t2"), ("t2", "t3"), ("t3", "t1")]
    edges = edges.union(
        spark.createDataFrame(triangle, "left_entity_key string, right_entity_key string")
    )
    ref = _dict_union_find([(f"e{i:03d}", f"e{i+1:03d}") for i in range(11)] + triangle)
    local = connected_components(nodes, edges, local_max_edges=1000)
    assert local.converged and local.iterations == 1 and local.path == "local_union_find"
    got = {(r["entity_key"], r["label"]) for r in local.labels.collect()}
    assert got == {(k, ref.get(k, k)) for k in (r["entity_key"] for r in nodes.collect())}
    assert ("zzz_alone", "zzz_alone") in got


def test_local_union_find_cap_falls_back_to_distributed(spark):
    """A subgraph over the cap must take the distributed path (limit guard),
    with identical labels: under the size gate, one union-find task."""
    from sql_identity_resolution_spark.operators.graph import connected_components

    nodes, edges = _chain(spark, 12)
    res = connected_components(nodes, edges, local_max_edges=3)  # 11 edges > 3
    assert res.converged
    assert res.path == "contracted" and res.iterations == 1
    got = {(r["entity_key"], r["label"]) for r in res.labels.collect()}
    assert got == {(f"e{i:03d}", "e000") for i in range(12)}


def test_connected_components_rejects_unknown_algorithm():
    """``auto`` and ``star`` are accepted for existing callers (observed size
    alone picks the path); a removed algorithm name fails before any Spark
    work."""
    from sql_identity_resolution_spark.operators.graph import connected_components

    for algorithm in ("hash_min", "dense"):
        with pytest.raises(ValueError, match="algorithm"):
            connected_components(None, None, algorithm=algorithm)


# ------------------------------------------------------------- frontier LP


def test_frontier_matches_dense_hash_min(spark, monkeypatch):
    """Frontier (vertex-activation) hash-min, the only hash-min form, must
    produce the labels the dense form did — the MIN entity_key of each
    component — on a mix of a short chain, a star, random pairs and
    singletons, checked against the in-test dict union-find. With the
    one-task union-find gated off, the ``auto`` probe converges on it."""
    import random

    from sql_identity_resolution_spark.operators import graph

    monkeypatch.setattr(graph, "_STAR_CONTRACT_MAX_EDGES", 0)
    rng = random.Random(7)
    rows = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(5)]            # chain
    rows += [("hub", f"s{i:02d}") for i in range(20)]                  # star
    rows += [(f"a{rng.randrange(30):02d}", f"a{rng.randrange(30):02d}") for _ in range(40)]
    rows = [(a, b) for a, b in rows if a != b]
    keys = sorted({k for r in rows for k in r} | {"iso1", "iso2"})
    nodes = spark.createDataFrame([(k,) for k in keys], "entity_key string")
    edges = spark.createDataFrame(rows, "left_entity_key string, right_entity_key string")
    ref = _dict_union_find(rows)
    front = graph.connected_components(nodes, edges)
    assert front.converged and front.path == "hash_min"
    got = {(r["entity_key"], r["label"]) for r in front.labels.collect()}
    assert got == {(k, ref.get(k, k)) for k in keys}
    # per-round decomposition is recorded and the delta hits 0 at convergence
    assert front.iterations == len(front.rounds) <= 8
    assert front.rounds[-1]["delta"] == 0
    assert all(set(r) == {"sec", "delta"} for r in front.rounds)


# ------------------------------------------------- star union-find pre-pass


def _adversarial_rows():
    """A 60-node chain, a 25-leaf hub star, duplicate edges (both
    orientations), self-loops, and keys whose code-point order differs from
    their numeric, case-folded or UTF-16 order; callers add isolated nodes."""
    rows = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(59)]
    rows += [("hub", f"s{i:02d}") for i in range(25)]
    rows += [("c010", "c011"), ("c011", "c010"), ("s03", "hub"), ("hub", "s03")]
    rows += [("c020", "c020"), ("hub", "hub"), ("loop", "loop")]
    rows += [("a9", "a10"), ("a", "B"), ("zeta", "éclair"), ("\U0001F600", "\uffff")]
    return rows


def _dict_union_find(pairs) -> dict:
    """Reference labels for the CC tests: {node: component min} by a plain
    dict union-find, sharing no code with the engine."""
    pairs = list(pairs)
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        a, b = find(a), find(b)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {x: find(x) for p in pairs for x in p}


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
        want = {(x, r) for x, r in _dict_union_find(zip(left.tolist(), right.tolist())).items() if x != r}
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
def test_star_prepass_matches_local_union_find(spark, monkeypatch, partitions):
    """The one-task union-find, the hash-min probe escalated to star, and
    the driver union-find each label an adversarial graph exactly as the
    in-test dict union-find does, whether its edges are spread over 8
    partitions or sit in one. The distributed paths and the driver path
    share ``_union_find_pairs``, so neither is the other's reference. Under
    the size gate the contraction is the whole call: one iteration."""
    from sql_identity_resolution_spark.operators import graph

    nodes, edges, canonical = _adversarial_graph(spark, partitions)
    ref = _dict_union_find(_adversarial_rows())
    want = {(k, ref.get(k, k)) for k in (r["entity_key"] for r in nodes.collect())}
    assert ("a10", "a10") in want and ("a9", "a10") in want and ("a", "B") in want
    assert ("éclair", "zeta") in want and ("\U0001F600", "\uffff") in want

    runs = {
        "contracted": graph.connected_components(nodes, edges),
        "local_union_find": graph.connected_components(nodes, edges, local_max_edges=1000),
    }
    # the 60-node chain outlasts the probe; its contracted pairs (51 links
    # between partial labels) fit a gate of 60, so no star round runs
    monkeypatch.setattr(graph, "_STAR_CONTRACT_MAX_EDGES", 60)
    runs["hash_min+contracted"] = graph.connected_components(nodes, edges)
    # with no gate the probe escalates to star rounds to the fixed point
    monkeypatch.setattr(graph, "_STAR_CONTRACT_MAX_EDGES", 0)
    runs["hash_min+star"] = graph.connected_components(nodes, edges)
    for path, res in runs.items():
        assert res.converged and res.path == path, path
        assert {(r["entity_key"], r["label"]) for r in res.labels.collect()} == want, path

    contracted = runs["contracted"]
    assert contracted.iterations == len(contracted.rounds) == 1
    (step,) = contracted.rounds
    assert set(step) == {"sec", "edges_in", "pairs_out"}
    assert step["edges_in"] == len(canonical)
    # a star forest: one pair per node that is not its component's min
    assert step["pairs_out"] == len(want) - len({lbl for _, lbl in want})

    probed = runs["hash_min+contracted"]
    assert probed.iterations == len(probed.rounds) == 9
    probe, (step,) = probed.rounds[:8], probed.rounds[8:]
    assert all(set(r) == {"sec", "delta"} for r in probe) and probe[-1]["delta"] > 0
    assert set(step) == {"sec", "edges_in", "pairs_out"} and step["edges_in"] <= 60

    escalated = runs["hash_min+star"]
    assert escalated.iterations == len(escalated.rounds)
    probe, star = escalated.rounds[:8], escalated.rounds[8:]
    assert all(set(r) == {"sec", "delta"} for r in probe) and probe[-1]["delta"] > 0
    assert star and all(set(r) == {"sec", "pairs"} for r in star)


def test_star_above_contract_cap_skips_prepass(spark, monkeypatch):
    """Above the size gate a chain longer than the probe's 8 rounds escalates
    to star rounds on the probe's contracted pairs; with the gate at 0 no
    contraction runs, and the loop still converges to the component min."""
    from sql_identity_resolution_spark.operators import graph

    monkeypatch.setattr(graph, "_STAR_CONTRACT_MAX_EDGES", 0)
    nodes, edges = _chain(spark, 12)  # 11 hops
    res = graph.connected_components(nodes, edges)
    assert res.converged and res.path == "hash_min+star"
    assert {(r["entity_key"], r["label"]) for r in res.labels.collect()} == {
        (f"e{i:03d}", "e000") for i in range(12)}
    assert res.iterations == len(res.rounds) > 8
    probe, star = res.rounds[:8], res.rounds[8:]
    assert all(set(r) == {"sec", "delta"} for r in probe) and probe[-1]["delta"] > 0
    assert star and all(set(r) == {"sec", "pairs"} for r in star)


def test_star_loop_ends_with_contraction_once_pairs_fit(spark, monkeypatch):
    """Above the size gate the star loop checks the gate before every round:
    once its pairs fit, one union-find task ends the loop instead of further
    rounds relabeling a plateau. A chain of twelve 5-node cliques, each
    joined to the next by 5 edges (175 canonical edges), outlasts the
    probe; over a gate of 50 its contracted pairs take one star round, then
    the contraction."""
    from itertools import combinations

    from sql_identity_resolution_spark.operators import graph

    rows = []
    for g in range(12):
        rows += list(combinations([f"n{5 * g + i:03d}" for i in range(5)], 2))
        if g:
            rows += [(f"n{5 * g - 1 - j:03d}", f"n{5 * g + j:03d}") for j in range(5)]
    assert len(rows) == 175
    keys = sorted({k for r in rows for k in r})
    nodes = spark.createDataFrame([(k,) for k in keys], "entity_key string")
    edges = spark.createDataFrame(rows, "left_entity_key string, right_entity_key string")
    monkeypatch.setattr(graph, "_STAR_CONTRACT_MAX_EDGES", 50)
    res = graph.connected_components(nodes, edges)
    assert res.converged and res.path == "hash_min+star+contracted"
    assert res.iterations == len(res.rounds) == 10
    probe, (star, contraction) = res.rounds[:8], res.rounds[8:]
    assert all(set(r) == {"sec", "delta"} for r in probe) and probe[-1]["delta"] > 0
    assert set(star) == {"sec", "pairs"} and star["pairs"] <= 50
    assert set(contraction) == {"sec", "edges_in", "pairs_out"}
    assert contraction["edges_in"] == star["pairs"]
    ref = _dict_union_find(rows)
    assert {(r["entity_key"], r["label"]) for r in res.labels.collect()} == {(k, ref[k]) for k in keys}


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
