"""The reference's 12 CI scenarios (tests/run_tests_duckdb.py:604-1263,
expected outcomes indexed in tests/README.md:7-12), re-expressed against the
Spark-native pipeline. Fixture shape: (entity_id, email, phone, updated_at)
per FIXTURES.md §3.
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest

from sql_identity_resolution_spark.config import (
    AttributeMapping,
    EngineConfig,
    Exclusion,
    IdentifierMapping,
    Rule,
    SourceTable,
)
from sql_identity_resolution_spark.datagen import write_parquet
from sql_identity_resolution_spark.plans.pipeline import IDRPipeline

T = datetime(2026, 1, 1, 12, 0, 0)


def make_cfg(tmp_path, rows, rules=None, exclusions=None, lookback_minutes=0, **kw):
    src = tmp_path / "crm.parquet"
    write_parquet(pd.DataFrame(rows), str(src))
    return EngineConfig(
        warehouse=str(tmp_path / "wh"),
        sources=[
            SourceTable(
                "crm", "entity_id", "updated_at", path=str(src),
                watermark_lookback_minutes=lookback_minutes,
            )
        ],
        rules=rules
        or [
            Rule("R_EMAIL_EXACT", "EMAIL", "Email exact match", priority=1, canonicalize="LOWERCASE"),
            Rule("R_PHONE_EXACT", "PHONE", "Phone exact match", priority=2),
        ],
        mappings=[
            IdentifierMapping("crm", "EMAIL", "email"),
            IdentifierMapping("crm", "PHONE", "phone"),
        ],
        exclusions=exclusions or [],
        attributes=[
            AttributeMapping("email_primary", "crm", "email"),
            AttributeMapping("phone_primary", "crm", "phone"),
        ],
        **kw,
    )


def rows(entities):
    return {
        "entity_id": [e[0] for e in entities],
        "email": [e[1] for e in entities],
        "phone": [e[2] for e in entities],
        "updated_at": [e[3] if len(e) > 3 else T for e in entities],
    }


def memberships(pipe):
    return {
        r["entity_key"]: r["resolved_id"]
        for r in pipe.catalog.read("identity_resolved_membership_current").collect()
    }


def clusters_of(m):
    out = {}
    for k, v in m.items():
        out.setdefault(v, set()).add(k)
    return out


# 1. same identifier ⇒ same cluster (run_tests_duckdb.py:604-651)
def test_two_entities_same_email(spark, tmp_path):
    cfg = make_cfg(tmp_path, rows([("A001", "shared@example.com", "111"), ("B001", "shared@example.com", "222")]))
    pipe = IDRPipeline(spark, cfg)
    res = pipe.run("FULL")
    m = memberships(pipe)
    assert m["crm:A001"] == m["crm:B001"] == "crm:A001"
    assert res.edges_created == 1


# 2. transitivity chain A–B(email), B–C(phone) ⇒ one cluster (:654-709)
def test_chain_three_entities(spark, tmp_path):
    cfg = make_cfg(
        tmp_path,
        rows([
            ("A001", "a@x.com", "111"),
            ("B001", "a@x.com", "222"),
            ("C001", "c@x.com", "222"),
        ]),
    )
    pipe = IDRPipeline(spark, cfg)
    pipe.run("FULL")
    m = memberships(pipe)
    assert len({m["crm:A001"], m["crm:B001"], m["crm:C001"]}) == 1


# 3. disjoint groups ⇒ separate clusters (:712-773)
def test_disjoint_graphs(spark, tmp_path):
    cfg = make_cfg(
        tmp_path,
        rows([
            ("A1", "g1@x.com", "101"), ("A2", "g1@x.com", "102"),
            ("B1", "g2@x.com", "201"), ("B2", "g2@x.com", "202"),
        ]),
    )
    pipe = IDRPipeline(spark, cfg)
    pipe.run("FULL")
    cl = clusters_of(memberships(pipe))
    assert len(cl) == 2
    assert {frozenset(v) for v in cl.values()} == {
        frozenset({"crm:A1", "crm:A2"}), frozenset({"crm:B1", "crm:B2"}),
    }


# 4. case-insensitive canonicalization ⇒ one cluster (:776-829)
def test_case_insensitive_email(spark, tmp_path):
    cfg = make_cfg(
        tmp_path,
        rows([
            ("A", "JOHN.DOE@EXAMPLE.COM", "1"),
            ("B", "john.doe@example.com", "2"),
            ("C", "John.Doe@Example.com", "3"),
        ]),
    )
    pipe = IDRPipeline(spark, cfg)
    pipe.run("FULL")
    assert len(clusters_of(memberships(pipe))) == 1
    edges = pipe.catalog.read("identity_edges_current").collect()
    assert all(e["identifier_value_norm"] == "john.doe@example.com" for e in edges)


# 5. singleton ⇒ resolved_id = entity_key (:832-870)
def test_singleton(spark, tmp_path):
    cfg = make_cfg(tmp_path, rows([("S1", "only@x.com", "999")]))
    pipe = IDRPipeline(spark, cfg)
    pipe.run("FULL")
    m = memberships(pipe)
    assert m == {"crm:S1": "crm:S1"}


# 6. group > max_group_size ⇒ 0 edges, all singletons, audited (:873-930)
def test_max_group_size(spark, tmp_path):
    ents = [(f"E{i}", None, None, T) for i in range(5)]
    src_rows = rows(ents)
    src_rows["loyalty_id"] = ["LOYAL1"] * 5
    cfg = EngineConfig(
        warehouse=str(tmp_path / "wh"),
        sources=[SourceTable("crm", "entity_id", "updated_at", path=str(tmp_path / "crm.parquet"))],
        rules=[Rule("R_LOYALTY", "LOYALTY_ID", max_group_size=2)],
        mappings=[IdentifierMapping("crm", "LOYALTY_ID", "loyalty_id")],
    )
    write_parquet(pd.DataFrame(src_rows), str(tmp_path / "crm.parquet"))
    pipe = IDRPipeline(spark, cfg)
    res = pipe.run("FULL")
    assert res.edges_created == 0
    assert res.groups_skipped == 1
    m = memberships(pipe)
    assert all(k == v for k, v in m.items()) and len(m) == 5
    skipped = pipe.catalog.read("skipped_identifier_groups").collect()
    assert len(skipped) == 1
    row = skipped[0]
    assert row["identifier_type"] == "LOYALTY_ID"
    assert row["group_size"] == 5 and row["max_allowed"] == 2
    assert row["reason"] == "EXCEEDED_MAX_GROUP_SIZE"
    assert row["sample_entity_keys"]  # audit sample populated


# 7. exclusion list EXACT + LIKE (:933-993)
def test_exclusion_list(spark, tmp_path):
    cfg = make_cfg(
        tmp_path,
        rows([
            ("A", "test@test.com", "1"),
            ("B", "test@test.com", "2"),
            ("C", "x@example.invalid", "3"),
            ("D", "y@example.invalid", "4"),
            ("E", "real@x.com", "5"),
            ("F", "real@x.com", "6"),
        ]),
        exclusions=[
            Exclusion("EMAIL", "test@test.com", "EXACT"),
            Exclusion("EMAIL", "%@example.invalid", "LIKE"),
        ],
    )
    pipe = IDRPipeline(spark, cfg)
    res = pipe.run("FULL")
    cl = clusters_of(memberships(pipe))
    # only E-F merge; everyone else singleton
    assert frozenset({"crm:E", "crm:F"}) in {frozenset(v) for v in cl.values()}
    assert len(cl) == 5
    assert res.values_excluded == 4
    assert res.edges_created == 1


# 8. skipped-groups audit row shape (:996-1032) — covered in test 6; here: top offenders query
def test_skipped_groups_topk(spark, tmp_path):
    src_rows = rows([(f"E{i}", None, None, T) for i in range(8)])
    src_rows["loyalty_id"] = ["L1"] * 5 + ["L2"] * 3
    write_parquet(pd.DataFrame(src_rows), str(tmp_path / "crm.parquet"))
    cfg = EngineConfig(
        warehouse=str(tmp_path / "wh"),
        sources=[SourceTable("crm", "entity_id", "updated_at", path=str(tmp_path / "crm.parquet"))],
        rules=[Rule("R_LOYALTY", "LOYALTY_ID", max_group_size=2)],
        mappings=[IdentifierMapping("crm", "LOYALTY_ID", "loyalty_id")],
    )
    pipe = IDRPipeline(spark, cfg)
    res = pipe.run("FULL")
    assert res.groups_skipped == 2
    top = (
        pipe.catalog.read("skipped_identifier_groups")
        .orderBy("group_size", ascending=False)
        .limit(3)
        .collect()
    )
    assert [r["group_size"] for r in top] == [5, 3]


# 9. dry-run populates diff tables, no production writes (:1035-1120)
def test_dry_run(spark, tmp_path):
    cfg = make_cfg(tmp_path, rows([("A", "dup@x.com", "1"), ("B", "dup@x.com", "2")]))
    pipe = IDRPipeline(spark, cfg)
    res = pipe.run("FULL", dry_run=True)
    assert res.status == "DRY_RUN_COMPLETE"
    assert not pipe.catalog.exists("identity_resolved_membership_current")
    assert not pipe.catalog.exists("identity_edges_current")
    diff = pipe.catalog.read("dry_run_results").collect()
    assert {r["change_type"] for r in diff} == {"NEW"}
    assert len(diff) == 2
    summary = pipe.catalog.read("dry_run_summary").collect()[0]
    assert summary["new_entities"] == 2 and summary["edges_would_create"] == 1


# 10. singleton confidence = 1.0, reason SINGLETON_NO_MATCH_REQUIRED (:1123-1161)
def test_singleton_confidence(spark, tmp_path):
    cfg = make_cfg(tmp_path, rows([("S1", "only@x.com", "1")]))
    pipe = IDRPipeline(spark, cfg)
    pipe.run("FULL")
    c = pipe.catalog.read("identity_clusters_current").collect()[0]
    assert c["confidence_score"] == 1.0
    assert c["primary_reason"] == "SINGLETON_NO_MATCH_REQUIRED"


# 11. two identifier types ⇒ edge_diversity=2, confidence > 0.7 (:1164-1213)
def test_confidence_multi_identifier(spark, tmp_path):
    cfg = make_cfg(tmp_path, rows([("A", "both@x.com", "777"), ("B", "both@x.com", "777")]))
    pipe = IDRPipeline(spark, cfg)
    pipe.run("FULL")
    c = {r["resolved_id"]: r for r in pipe.catalog.read("identity_clusters_current").collect()}
    row = c["crm:A"]
    assert row["edge_diversity"] == 2
    assert row["confidence_score"] > 0.7


# 12. one identifier type ⇒ edge_diversity=1 (:1216-1263)
def test_confidence_single_identifier(spark, tmp_path):
    cfg = make_cfg(tmp_path, rows([("A", "one@x.com", "111"), ("B", "one@x.com", "222")]))
    pipe = IDRPipeline(spark, cfg)
    pipe.run("FULL")
    c = {r["resolved_id"]: r for r in pipe.catalog.read("identity_clusters_current").collect()}
    assert c["crm:A"]["edge_diversity"] == 1


# 13. incremental watermark: run2 only reprocesses new rows and merges clusters
def test_incremental_watermark(spark, tmp_path):
    t1, t2 = datetime(2026, 1, 1), datetime(2026, 2, 1)
    src = tmp_path / "crm.parquet"
    write_parquet(
        pd.DataFrame(rows([("A", "a@x.com", "111", t1), ("B", "b@x.com", "222", t1)])), str(src)
    )
    cfg = make_cfg(tmp_path, rows([("A", "a@x.com", "111", t1), ("B", "b@x.com", "222", t1)]))
    pipe = IDRPipeline(spark, cfg)
    pipe.run("FULL")
    assert len(clusters_of(memberships(pipe))) == 2

    # new row C bridges A and B (email of A, phone of B), later watermark
    write_parquet(
        pd.DataFrame(
            rows([
                ("A", "a@x.com", "111", t1),
                ("B", "b@x.com", "222", t1),
                ("C", "a@x.com", "222", t2),
            ])
        ),
        str(src),
    )
    res2 = pipe.run("INCR")
    # reference watermark filter is INCLUSIVE (wm >= last, idr_run.py:192):
    # boundary rows A,B reprocess idempotently alongside the new row C
    assert res2.entities_processed == 3
    m = memberships(pipe)
    assert len({m["crm:A"], m["crm:B"], m["crm:C"]}) == 1


# 14. lookback window reprocesses late data
def test_lookback_late_data(spark, tmp_path):
    t1 = datetime(2026, 1, 1, 12, 0)
    late = datetime(2026, 1, 1, 11, 30)  # before watermark but inside 60min lookback
    src = tmp_path / "crm.parquet"
    write_parquet(pd.DataFrame(rows([("A", "a@x.com", "1", t1)])), str(src))
    cfg = make_cfg(tmp_path, rows([("A", "a@x.com", "1", t1)]), lookback_minutes=60)
    pipe = IDRPipeline(spark, cfg)
    pipe.run("FULL")
    write_parquet(
        pd.DataFrame(rows([("A", "a@x.com", "1", t1), ("L", "a@x.com", "9", late)])), str(src)
    )
    res = pipe.run("INCR")
    assert res.entities_processed == 2  # A reprocessed (within lookback) + L
    m = memberships(pipe)
    assert m["crm:L"] == m["crm:A"]


# 16. non-convergence HARD-FAILS: no membership published, status FAILED
# (≙ sql/databricks/core/IDR_Run.py:493-494 raising on MAX_ITERS exhaustion)
def test_nonconvergence_blocks_publish(spark, tmp_path, monkeypatch):
    from sql_identity_resolution_spark.operators import graph
    from sql_identity_resolution_spark.plans.pipeline import ConvergenceError

    # chain A–B (email) + B–C (phone): diameter 2, so with the one-task
    # union-find gated off the distributed loop needs >1 iteration
    monkeypatch.setattr(graph, "_STAR_CONTRACT_MAX_EDGES", 0)
    cfg = make_cfg(
        tmp_path,
        rows([
            ("A001", "a@x.com", "111"),
            ("B001", "a@x.com", "222"),
            ("C001", "c@x.com", "222"),
        ]),
        max_iters=1,
        cc_local_max_edges=0,  # force the distributed loop so it CAN fail
    )
    pipe = IDRPipeline(spark, cfg)
    with pytest.raises(ConvergenceError):
        pipe.run("FULL")
    # nothing published on non-converged labels
    assert not pipe.catalog.exists("identity_resolved_membership_current")
    assert not pipe.catalog.exists("identity_clusters_current")
    # the failed run is still observable
    hist = pipe.catalog.read("run_history").collect()
    assert len(hist) == 1 and hist[0]["status"] == "FAILED"
    # watermark did not advance → next run reprocesses the same delta
    assert not pipe.catalog.exists("run_state")


# 17. group_sizes sample is bounded: a degenerate 50k-member block yields
# count/min in the hash agg and exactly sample_n keys from a rank≤N window —
# no executor ever materializes the full member list (operators/blocking.py).
def test_group_sizes_bounded_sample_hot_block(spark):
    from pyspark.sql import functions as F

    from sql_identity_resolution_spark.operators.blocking import group_sizes

    members = spark.range(50_000).select(
        F.format_string("e%07d", F.col("id")).alias("entity_key"),
        F.lit("HOT").alias("identifier_type"),
        F.lit("v1").alias("identifier_value_norm"),
    )
    out = group_sizes(members, sample_n=5).collect()
    assert len(out) == 1
    row = out[0]
    assert row["group_size"] == 50_000
    assert row["anchor_entity_key"] == "e0000000"
    assert row["sample_keys"] == [f"e{i:07d}" for i in range(5)]


# 15. incremental merge relabels ALL members of touched clusters (superset fix)
def test_incremental_full_cluster_relabel(spark, tmp_path):
    t1, t2 = datetime(2026, 1, 1), datetime(2026, 2, 1)
    src = tmp_path / "crm.parquet"
    base = [
        ("B", "b@x.com", "222", t1),
        ("C", "b@x.com", "333", t1),  # B-C via email (anchor B)
        ("D", "d@x.com", "333", t1),  # C-D via phone → cluster {B,C,D} min=B
    ]
    write_parquet(pd.DataFrame(rows(base)), str(src))
    cfg = make_cfg(tmp_path, rows(base))
    pipe = IDRPipeline(spark, cfg)
    pipe.run("FULL")
    m = memberships(pipe)
    assert m["crm:D"] == "crm:B"
    # A (smaller key) arrives linking to D only — 2 hops from B
    write_parquet(pd.DataFrame(rows(base + [("A", "d@x.com", "999", t2)])), str(src))
    pipe.run("INCR")
    m = memberships(pipe)
    assert (
        m["crm:A"] == m["crm:B"] == m["crm:C"] == m["crm:D"] == "crm:A"
    ), f"stale labels after merge: {m}"


# crash recovery for the INCR recluster scope: INCR merges edges eagerly, so
# a run that fails AFTER the edge MERGE but before publishing membership must
# leave a state the retry fully repairs. The graph-changing-pairs gate tests
# MEMBERSHIP (endpoints not co-clustered), not the edge store — an edge-store
# anti-join would see the crashed run's edges as "already known" and strand
# them unclustered forever.
def test_incr_retry_reclusters_edges_merged_by_failed_run(spark, tmp_path, monkeypatch):
    from sql_identity_resolution_spark.operators import graph
    from sql_identity_resolution_spark.plans.pipeline import ConvergenceError

    t1, t2 = datetime(2026, 1, 1), datetime(2026, 2, 1)
    src = tmp_path / "crm.parquet"
    base = [("A", "a@x.com", "111", t1)]
    write_parquet(pd.DataFrame(rows(base)), str(src))
    cfg = make_cfg(tmp_path, rows(base))
    IDRPipeline(spark, cfg).run("FULL")

    # delta: B links to A (email), C links to B (phone) — diameter-2 chain,
    # so the distributed loop with max_iters=1 (the one-task union-find
    # gated off) fails AFTER the eager INCR edge merge
    delta = base + [("B", "a@x.com", "222", t2), ("C", "c@x.com", "222", t2)]
    write_parquet(pd.DataFrame(rows(delta)), str(src))
    monkeypatch.setattr(graph, "_STAR_CONTRACT_MAX_EDGES", 0)
    cfg_fail = make_cfg(
        tmp_path, rows(delta), max_iters=1,
        cc_local_max_edges=0,  # force the distributed loop so it CAN fail
    )
    pipe = IDRPipeline(spark, cfg_fail)
    with pytest.raises(ConvergenceError):
        pipe.run("INCR")
    # edges are merged (valid facts), membership is NOT published for them
    assert pipe.catalog.read("identity_edges_current").count() >= 2
    m = memberships(pipe)
    assert "crm:B" not in m and "crm:C" not in m

    # retry with a working config: watermark never advanced, the delta
    # re-derives, the already-merged pairs are non-co-clustered → recluster
    pipe2 = IDRPipeline(spark, make_cfg(tmp_path, rows(delta)))
    res = pipe2.run("INCR")
    assert res.status.startswith("SUCCESS")
    m = memberships(pipe2)
    assert m["crm:A"] == m["crm:B"] == m["crm:C"] == "crm:A", f"stranded: {m}"


# serial flush (flush_max_workers=1) publishes identical outputs to the
# default concurrent pool — the heap-pressure fallback must not change results
def test_edge_merge_on_read_parity(spark, tmp_path):
    """INCR with edge_merge_on_read (update parts + read-time reconcile) must
    publish byte-identical state to copy-on-write: same memberships, same edge
    rows INCLUDING the matched-row semantics (first_seen_ts kept from the
    target, last_seen_ts refreshed from the source re-observation)."""
    t1, t2, t3 = datetime(2026, 1, 1), datetime(2026, 2, 1), datetime(2026, 3, 1)
    base = [("A", "a@x.com", "111", t1), ("B", "a@x.com", "222", t1)]
    batch2 = base + [("C", "a@x.com", "222", t2)]           # re-observes A–B pairs
    batch3 = batch2 + [("D", "d@x.com", "999", t3), ("A", "a@x.com", "111", t3)]

    def run_variant(sub, mor):
        (tmp_path / sub).mkdir()
        src = tmp_path / sub / "crm.parquet"
        write_parquet(pd.DataFrame(rows(base)), str(src))
        cfg = EngineConfig(
            warehouse=str(tmp_path / sub / "wh"),
            sources=[SourceTable("crm", "entity_id", "updated_at", path=str(src))],
            rules=[
                Rule("R_EMAIL_EXACT", "EMAIL", "Email exact", priority=1, canonicalize="LOWERCASE"),
                Rule("R_PHONE_EXACT", "PHONE", "Phone exact", priority=2),
            ],
            mappings=[
                IdentifierMapping("crm", "EMAIL", "email"),
                IdentifierMapping("crm", "PHONE", "phone"),
            ],
            edge_merge_on_read=mor,
        )
        pipe = IDRPipeline(spark, cfg)
        pipe.run("FULL")
        for batch in (batch2, batch3):
            write_parquet(pd.DataFrame(rows(batch)), str(src))
            pipe.run("INCR")
        raw = [tuple(r) for r in pipe.catalog.read("identity_edges_current").collect()]
        # first/last_seen are wall-clock run timestamps — normalize to the
        # rank of the run that stamped them so the two variants compare
        ts_rank = {t: i for i, t in enumerate(sorted({v for r in raw for v in r[-2:]}))}
        edges = sorted(r[:-2] + (ts_rank[r[-2]], ts_rank[r[-1]]) for r in raw)
        return memberships(pipe), edges

    m_mor, e_mor = run_variant("mor", True)
    m_cow, e_cow = run_variant("cow", False)
    assert m_mor == m_cow
    assert e_mor == e_cow  # full rows: keys + first_seen/last_seen semantics


def test_serial_flush_same_outputs(spark, tmp_path):
    data = rows([
        ("A001", "a@x.com", "111"),
        ("B001", "a@x.com", "222"),
        ("C001", "c@x.com", "222"),
    ])
    (tmp_path / "pool").mkdir()
    (tmp_path / "serial").mkdir()
    cfg = make_cfg(tmp_path / "pool", data)
    pipe = IDRPipeline(spark, cfg)
    pipe.run("FULL")
    m_pool = memberships(pipe)

    cfg1 = make_cfg(tmp_path / "serial", data, flush_max_workers=1)
    pipe1 = IDRPipeline(spark, cfg1)
    pipe1.run("FULL")
    m_serial = memberships(pipe1)
    assert m_pool == m_serial
    # the observability appends still land when flushed serially
    for t in ("rule_match_audit_current", "identifier_quality", "partition_lineage"):
        assert pipe1.catalog.read(t).count() >= 1


def _published_state(pipe):
    """Membership + clusters + golden, timestamps stripped (wall-clock)."""
    cat = pipe.catalog
    m = memberships(pipe)
    cl = sorted(
        tuple(v for c, v in zip(df.columns, r) if not c.endswith(("_ts", "_at")))
        for df in [cat.read("identity_clusters_current")]
        for r in df.collect()
    )
    gl = sorted(
        tuple(v for c, v in zip(df.columns, r) if not c.endswith(("_ts", "_at")))
        for df in [cat.read("golden_profile_current")]
        for r in df.collect()
    )
    return m, cl, gl


def test_membership_store_merge_on_read_parity(spark, tmp_path):
    """INCR membership/clusters/golden via merge-on-read delete+insert must
    publish the identical state to copy-on-write — and the chained batch's
    membership commit must stop rewriting every bucket (the round-4
    rewritten_fraction-1.0 finding)."""
    t1, t2, t3 = datetime(2026, 1, 1), datetime(2026, 2, 1), datetime(2026, 3, 1)
    base = [("A", "a@x.com", "111", t1), ("B", "b@x.com", "222", t1)]
    # chained: C links to A's cluster (email) — relabels existing members
    batch2 = base + [("C", "a@x.com", "333", t2)]
    batch3 = batch2 + [("D", "b@x.com", "444", t3)]

    def run_variant(sub, mor):
        (tmp_path / sub).mkdir()
        cfg = make_cfg(tmp_path / sub, rows(base), store_merge_on_read=mor)
        pipe = IDRPipeline(spark, cfg)
        pipe.run("FULL")
        last = None
        for batch in (batch2, batch3):
            write_parquet(pd.DataFrame(rows(batch)), str(tmp_path / sub / "crm.parquet"))
            last = pipe.run("INCR")
        return pipe, last

    pipe_m, res_m = run_variant("mor", True)
    pipe_c, _ = run_variant("cow", False)
    assert _published_state(pipe_m) == _published_state(pipe_c)
    sc = res_m.store_commits["identity_resolved_membership_current"]
    assert sc["rewritten_fraction"] == 0.0 and sc.get("upd_buckets", 0) >= 1


def test_crash_before_membership_commit_recovers(spark, tmp_path):
    """The flush commits T_MEMBERSHIP LAST. A crash in that window leaves
    clusters/golden published but membership (and the watermark) unpublished —
    the retry must re-qualify the pairs via _graph_changing_pairs and publish
    the full no-crash state."""
    t1, t2 = datetime(2026, 1, 1), datetime(2026, 2, 1)
    base = [("A", "a@x.com", "111", t1), ("B", "b@x.com", "222", t1)]
    batch2 = base + [("C", "a@x.com", "333", t2)]  # merges into A's cluster

    # control: same batches, no crash
    (tmp_path / "ctl").mkdir()
    cfg_c = make_cfg(tmp_path / "ctl", rows(base))
    pipe_c = IDRPipeline(spark, cfg_c)
    pipe_c.run("FULL")
    write_parquet(pd.DataFrame(rows(batch2)), str(tmp_path / "ctl" / "crm.parquet"))
    pipe_c.run("INCR")

    (tmp_path / "crash").mkdir()
    cfg = make_cfg(tmp_path / "crash", rows(base))
    pipe = IDRPipeline(spark, cfg)
    pipe.run("FULL")
    write_parquet(pd.DataFrame(rows(batch2)), str(tmp_path / "crash" / "crm.parquet"))

    cat = pipe.catalog
    real_di = cat.delete_insert
    state = {"arm": True}

    def di(name, *a, **kw):
        # the flush runs store WRITES concurrently (two-phase publish);
        # crash the membership WRITE — its deferred pointer swap then never
        # runs, while every other store publishes inline in the pool
        if state["arm"] and name == "identity_resolved_membership_current":
            raise RuntimeError("simulated crash before membership commit")
        return real_di(name, *a, **kw)

    cat.delete_insert = di
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run("INCR")
    # publish-order guarantee: the membership POINTER only swaps after every
    # other store published — so this crash window shows clusters/golden
    # live and membership still at its pre-run state
    assert any(
        r["resolved_id"] for r in cat.read("identity_clusters_current").collect()
    )
    assert not any(
        r["entity_key"] == "crm:C"
        for r in cat.read("identity_resolved_membership_current").collect()
    )

    state["arm"] = False
    pipe.run("INCR")  # retry: watermark never advanced, delta reprocessed
    assert _published_state(pipe) == _published_state(pipe_c)


def test_match_signature_change_falls_back_safe(spark, tmp_path):
    """The first INCR after the MATCH semantics change must take the safe
    subgraph edge restriction (warning recorded); a subsequent INCR under the
    now-recorded signature goes back to the fast form silently."""
    t1, t2, t3 = datetime(2026, 1, 1), datetime(2026, 2, 1), datetime(2026, 3, 1)
    base = [("A", "a@x.com", "111", t1), ("B", "a@x.com", "222", t1)]
    email_only = [Rule("R_EMAIL_EXACT", "EMAIL", "Email", priority=1, canonicalize="LOWERCASE")]
    cfg = make_cfg(tmp_path, rows(base), rules=email_only)
    pipe = IDRPipeline(spark, cfg)
    pipe.run("FULL")

    both = email_only + [Rule("R_PHONE_EXACT", "PHONE", "Phone", priority=2)]
    batch2 = base + [("C", "c@x.com", "222", t2)]
    write_parquet(pd.DataFrame(rows(batch2)), str(tmp_path / "crm.parquet"))
    cfg2 = make_cfg(tmp_path, rows(batch2), rules=both)
    pipe2 = IDRPipeline(spark, cfg2)
    res = pipe2.run("INCR")
    assert any("match semantics changed" in w for w in res.warnings)

    batch3 = batch2 + [("D", "d@x.com", "999", t3)]
    write_parquet(pd.DataFrame(rows(batch3)), str(tmp_path / "crm.parquet"))
    res2 = pipe2.run("INCR")
    assert not any("match semantics changed" in w for w in res2.warnings)
    m = memberships(pipe2)
    assert m["crm:A"] == m["crm:B"]  # email link intact
