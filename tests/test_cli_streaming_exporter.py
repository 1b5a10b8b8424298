"""CLI entry, config loader, metrics exporter, monitoring views, streaming
incremental driver."""

from __future__ import annotations

import json
from datetime import datetime

import pandas as pd
import pytest

from sql_identity_resolution_spark.datagen import write_parquet


@pytest.fixture()
def crm(tmp_path):
    write_parquet(
        pd.DataFrame(
            {
                "entity_id": ["A", "B", "C"],
                "email": ["x@x.com", "x@x.com", "z@z.com"],
                "updated_at": [datetime(2026, 1, 1)] * 3,
            }
        ),
        str(tmp_path / "crm.parquet"),
    )
    return tmp_path


def test_cli_end_to_end(spark, crm, capsys):
    from sql_identity_resolution_spark.plans.cli import main

    config = {
        "warehouse": str(crm / "wh"),
        "sources": [
            {
                "table_id": "crm",
                "entity_key_expr": "entity_id",
                "watermark_column": "updated_at",
                "path": str(crm / "crm.parquet"),
            }
        ],
        "rules": [{"rule_id": "R_EMAIL", "identifier_type": "EMAIL", "canonicalize": "LOWERCASE"}],
        "mappings": [{"table_id": "crm", "identifier_type": "EMAIL", "identifier_value_expr": "email"}],
    }
    cfg_path = crm / "cfg.json"
    cfg_path.write_text(json.dumps(config))
    rc = main(["--config", str(cfg_path), "--mode", "FULL"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"].startswith("SUCCESS")
    assert out["entities_processed"] == 3 and out["edges_created"] == 1


def test_exporter_and_views(spark, crm):
    from sql_identity_resolution_spark import EngineConfig, IDRPipeline, IdentifierMapping, Rule, SourceTable
    from sql_identity_resolution_spark.plans.exporter import export_prometheus, monitoring_views

    cfg = EngineConfig(
        warehouse=str(crm / "wh2"),
        sources=[SourceTable("crm", "entity_id", "updated_at", path=str(crm / "crm.parquet"))],
        rules=[Rule("R_EMAIL", "EMAIL")],
        mappings=[IdentifierMapping("crm", "EMAIL", "email")],
    )
    pipe = IDRPipeline(spark, cfg)
    res = pipe.run("FULL")
    text = export_prometheus(pipe.catalog, res.run_id)
    assert "idr_run_duration_seconds" in text and res.run_id in text
    views = monitoring_views(pipe.catalog)
    dist = {r["size_bucket"]: r["n_clusters"] for r in views["cluster_size_distribution"].collect()}
    assert dist.get("pair") == 1 and dist.get("singleton") == 1
    assert views["recent_runs"].count() == 1


def test_dashboard_generation(spark, crm, tmp_path):
    from sql_identity_resolution_spark import EngineConfig, IDRPipeline, IdentifierMapping, Rule, SourceTable
    from sql_identity_resolution_spark.plans.dashboard import generate_dashboard

    cfg = EngineConfig(
        warehouse=str(crm / "wh3"),
        sources=[SourceTable("crm", "entity_id", "updated_at", path=str(crm / "crm.parquet"))],
        rules=[Rule("R_EMAIL", "EMAIL")],
        mappings=[IdentifierMapping("crm", "EMAIL", "email")],
    )
    pipe = IDRPipeline(spark, cfg)
    pipe.run("FULL")
    out = generate_dashboard(pipe.catalog, str(tmp_path / "dash.html"))
    page = open(out).read()
    for section in ["Cluster size distribution", "Recent runs", "Stage timings", "Identifier quality"]:
        assert section in page


# a metadata bundle in the reference's metadata_samples/*.csv shape: five
# source tables, three rules, 13 identifier mappings, five trust rows and a
# survivorship rule per attribute
_REFERENCE_BUNDLE = {
    "source_table": """table_id,table_fqn,entity_type,entity_key_expr,watermark_column,watermark_lookback_minutes,is_active
customer,crm.customer,PERSON,customer_id,rec_update_dt,0,true
transactions,sales.transactions,PERSON,transaction_id,load_ts,0,true
web_events,digital.web_events,PERSON,event_id,event_ts,60,true
loyalty_accounts,loyalty.loyalty_accounts,PERSON,loyalty_account_id,updated_at,0,true
store_visits,retail.store_visits,PERSON,visit_id,visit_ts,0,true
""",
    "rule": """rule_id,rule_name,is_active,priority,identifier_type,canonicalize,allow_hashed,require_non_null,max_group_size
R_EMAIL_EXACT,Email exact match,true,1,EMAIL,LOWERCASE,true,true,10000
R_PHONE_EXACT,Phone exact match,true,2,PHONE,NONE,true,true,10000
R_LOYALTY_EXACT,Loyalty id exact match,true,3,LOYALTY_ID,NONE,true,true,10000
""",
    "identifier_mapping": """table_id,identifier_type,identifier_value_expr,is_hashed
customer,EMAIL,email,false
customer,PHONE,phone,false
customer,LOYALTY_ID,loyalty_id,false
transactions,EMAIL,customer_email,false
transactions,PHONE,customer_phone,false
web_events,EMAIL,email,false
web_events,PHONE,phone,false
loyalty_accounts,EMAIL,email,false
loyalty_accounts,PHONE,phone,false
loyalty_accounts,LOYALTY_ID,loyalty_id,false
store_visits,EMAIL,email,false
store_visits,PHONE,phone,false
store_visits,LOYALTY_ID,loyalty_id,false
""",
    "source": """table_id,source_name,trust_rank,is_active
customer,CRM,1,true
loyalty_accounts,Loyalty,2,true
transactions,POS,3,true
store_visits,Store,4,true
web_events,Web,5,true
""",
    "entity_attribute_mapping": """table_id,attribute_name,attribute_expr
customer,email_raw,email
customer,phone_raw,phone
customer,first_name,first_name
customer,last_name,last_name
loyalty_accounts,email_raw,email
loyalty_accounts,phone_raw,phone
""",
    "survivorship_rule": """attribute_name,strategy,source_priority_list,recency_field
email_raw,MOST_RECENT,,
phone_raw,SOURCE_PRIORITY,"customer,loyalty_accounts",
first_name,SOURCE_PRIORITY,customer,
last_name,SOURCE_PRIORITY,customer,
""",
}


def _write_bundle(dir_path, files):
    dir_path.mkdir()
    for name, text in files.items():
        (dir_path / f"{name}.csv").write_text(text)
    return str(dir_path)


def test_metadata_csv_loader_reference_bundle(spark, tmp_path):
    """Feed a reference-format metadata_samples/*.csv bundle into a run: two of
    the five configured source tables get synthesized parquet (the others load
    as inactive — partial-migration mode), then FULL runs end-to-end with the
    bundle's rules/mappings/attributes/trust unchanged."""
    from sql_identity_resolution_spark import IDRPipeline
    from sql_identity_resolution_spark.plans.metadata_csv import load_metadata_csv

    t = datetime(2026, 1, 1)
    write_parquet(
        pd.DataFrame(
            {
                "customer_id": [1, 2, 3],
                "email": ["Shared@X.com", "shared@x.com", "solo@x.com"],
                "phone": ["111", "222", "333"],
                "loyalty_id": [None, "L9", None],
                "first_name": ["Ann", "Bob", "Cyd"],
                "last_name": ["A", "B", "C"],
                "rec_create_dt": [t] * 3,
                "rec_update_dt": [t] * 3,
            }
        ),
        str(tmp_path / "customer.parquet"),
    )
    write_parquet(
        pd.DataFrame(
            {
                "loyalty_account_id": [77],
                "email": ["members@club.com"],
                "phone": ["333"],
                "loyalty_id": ["L9"],
                "updated_at": [datetime(2026, 2, 1)],
            }
        ),
        str(tmp_path / "loyalty.parquet"),
    )
    cfg = load_metadata_csv(
        _write_bundle(tmp_path / "metadata_samples", _REFERENCE_BUNDLE),
        warehouse=str(tmp_path / "wh"),
        paths={
            "customer": str(tmp_path / "customer.parquet"),
            "loyalty_accounts": str(tmp_path / "loyalty.parquet"),
        },
    )
    # all reference metadata parsed
    assert {r.rule_id for r in cfg.rules} == {"R_EMAIL_EXACT", "R_PHONE_EXACT", "R_LOYALTY_EXACT"}
    assert len(cfg.mappings) == 13 and len(cfg.trust) == 5
    assert {a.strategy for a in cfg.attributes if a.attribute_name == "email_raw"} == {"MOST_RECENT"}
    active = [s.table_id for s in cfg.sources if s.is_active]
    assert sorted(active) == ["customer", "loyalty_accounts"]

    pipe = IDRPipeline(spark, cfg)
    res = pipe.run("FULL")
    assert res.status.startswith("SUCCESS")
    m = {
        r["entity_key"]: r["resolved_id"]
        for r in pipe.catalog.read("identity_resolved_membership_current").collect()
    }
    # EMAIL LOWERCASE canonicalization merges customers 1+2; LOYALTY_ID L9
    # bridges customer 3 to the loyalty account; PHONE 333 also links them
    assert m["customer:1"] == m["customer:2"]
    assert m["customer:3"] == m["loyalty_accounts:77"]


def test_metadata_csv_loader_missing_bundle_raises(tmp_path):
    """A missing directory or rule.csv fails loudly, naming the path, instead
    of loading a config with no rules."""
    from sql_identity_resolution_spark.plans.metadata_csv import load_metadata_csv

    missing = tmp_path / "absent"
    with pytest.raises(FileNotFoundError, match=str(missing)):
        load_metadata_csv(str(missing), warehouse=str(tmp_path / "wh"))
    no_rules = {k: v for k, v in _REFERENCE_BUNDLE.items() if k != "rule"}
    bundle = _write_bundle(tmp_path / "no_rules", no_rules)
    with pytest.raises(FileNotFoundError, match="rule.csv"):
        load_metadata_csv(bundle, warehouse=str(tmp_path / "wh"))


def test_webhook_and_datadog_exporters(spark, crm):
    from sql_identity_resolution_spark import EngineConfig, IDRPipeline, IdentifierMapping, Rule, SourceTable
    from sql_identity_resolution_spark.plans.exporter import export_datadog, export_webhook

    cfg = EngineConfig(
        warehouse=str(crm / "wh4"),
        sources=[SourceTable("crm", "entity_id", "updated_at", path=str(crm / "crm.parquet"))],
        rules=[Rule("R_EMAIL", "EMAIL")],
        mappings=[IdentifierMapping("crm", "EMAIL", "email")],
    )
    pipe = IDRPipeline(spark, cfg)
    res = pipe.run("FULL")

    posted = {}

    def fake_post(url, body, headers):
        posted["url"], posted["body"], posted["headers"] = url, json.loads(body), headers
        return True

    out = export_webhook(pipe.catalog, "https://hooks.example/idr", run_id=res.run_id, post=fake_post)
    assert out["ok"] and out["metrics_count"] == 6
    names = {m["metric_name"] for m in posted["body"]["metrics"]}
    assert "idr_run_duration_seconds" in names and "idr_edges_created" in names
    assert all(m["run_id"] == res.run_id for m in posted["body"]["metrics"])

    out = export_datadog(pipe.catalog, api_key="k", run_id=res.run_id, post=fake_post)
    assert out["ok"] and posted["headers"]["DD-API-KEY"] == "k"
    series = posted["body"]["series"]
    assert {s["metric"] for s in series} >= {"idr_edges_created", "idr_lp_iterations"}
    assert all(f"run_id:{res.run_id}" in s["tags"] for s in series)
    assert {s["type"] for s in series} == {"gauge", "count"}
    with pytest.raises(ValueError):
        export_datadog(pipe.catalog, api_key=None, run_id=res.run_id, post=fake_post)


def _turns_rows(conv, text, ts):
    return pd.DataFrame(
        {
            "conv_id": [conv],
            "turn_idx": pd.array([0], dtype="int32"),
            "role": ["user"],
            "text": [text],
            "tool": pd.Series([None], dtype="string"),
            "ts": [ts],
        }
    )


def _streaming_idr(spark, tmp_path):
    """A StreamingIDR over a staging area seeded with conversation c1 (the
    batch source needs at least one file before it can read it)."""
    from sql_identity_resolution_spark import EngineConfig
    from sql_identity_resolution_spark.sources.transcripts import transcripts_source
    from sql_identity_resolution_spark.streaming.incremental import StreamingIDR

    staging = tmp_path / "staging"
    staging.mkdir()
    write_parquet(_turns_rows("c1", "alpha beta gamma delta epsilon", datetime(2026, 1, 1)), str(staging / "seed.parquet"))
    source, rules, mappings = transcripts_source("chat", str(staging))
    cfg = EngineConfig(warehouse=str(tmp_path / "wh"), sources=[source], rules=rules, mappings=mappings)
    return StreamingIDR(spark, cfg, str(staging))


def test_streaming_incremental(spark, tmp_path):
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    sidr = _streaming_idr(spark, tmp_path)

    # first micro-batch: an exact duplicate of c1 arrives
    write_parquet(_turns_rows("c2", "alpha beta gamma delta epsilon", datetime(2026, 1, 2)), str(incoming / "b1.parquet"))
    q = sidr.start(str(incoming), str(tmp_path / "ckpt"), trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(sidr.results) >= 1
    m = {
        r["entity_key"]: r["resolved_id"]
        for r in sidr.pipeline.catalog.read("identity_resolved_membership_current").collect()
    }
    assert m["chat:c1"] == m["chat:c2"]


def test_streaming_epoch_replay_is_idempotent(spark, tmp_path):
    """Structured Streaming replays an epoch after a failure with the same
    epoch_id and rows. The replay must leave each (conv_id, turn_idx) staged
    once and publish the membership one application published."""
    from sql_identity_resolution_spark.streaming.incremental import TURNS_SCHEMA

    sidr = _streaming_idr(spark, tmp_path)
    # an exact duplicate of c1: a doubled turn would change c2's text and
    # break the R_FULL_TEXT_EXACT link
    batch = spark.createDataFrame(
        _turns_rows("c2", "alpha beta gamma delta epsilon", datetime(2026, 1, 2)), TURNS_SCHEMA
    )

    def membership():
        rows = sidr.pipeline.catalog.read("identity_resolved_membership_current").collect()
        return {r["entity_key"]: r["resolved_id"] for r in rows}

    sidr._process_batch(batch, 1)
    once = membership()
    sidr._process_batch(batch, 1)
    staged = spark.read.parquet(sidr.staging_dir).groupBy("conv_id", "turn_idx").count().collect()
    assert sorted((r["conv_id"], r["turn_idx"], r["count"]) for r in staged) == [("c1", 0, 1), ("c2", 0, 1)]
    assert membership() == once
    assert once["chat:c2"] == once["chat:c1"]


def test_load_config_rejects_unknown_keys(tmp_path):
    """A config key the loader does not know (a typo, a removed setting)
    fails loudly instead of being ignored."""
    from sql_identity_resolution_spark.plans.cli import load_config

    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(
        {"warehouse": str(tmp_path / "wh"), "max_iter": 5, "cc_algorithm": "auto", "score_dense": True}
    ))
    with pytest.raises(ValueError, match=r"unknown config key\(s\) \['cc_algorithm', 'max_iter', 'score_dense'\]"):
        load_config(str(cfg_path))


def test_load_config_round_trips_every_scalar_field(tmp_path):
    """Every scalar EngineConfig field can be set from the file and comes
    back with the value written; a value of another type (a bool where an
    int is due, a string where a bool is) raises naming the key."""
    import dataclasses

    from sql_identity_resolution_spark.config import EngineConfig
    from sql_identity_resolution_spark.plans.cli import load_config

    defaults = EngineConfig(warehouse="")
    doc = {"warehouse": str(tmp_path / "wh")}
    for f in dataclasses.fields(EngineConfig):
        value = getattr(defaults, f.name)
        if f.name == "warehouse" or isinstance(value, list):
            continue
        if isinstance(value, bool):
            doc[f.name] = not value
        elif isinstance(value, int):
            doc[f.name] = value + 7
        elif f.name == "catalog_table_buckets":
            doc[f.name] = {"identity_edges_current": 64}
        else:
            raise AssertionError(f"no test value for {f.name} = {value!r}")
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(doc))
    cfg = load_config(str(cfg_path))
    assert {k: getattr(cfg, k) for k in doc} == doc

    for key, bad in (("max_iters", True), ("edge_merge_on_read", "yes"), ("catalog_buckets", 3.5),
                     ("catalog_table_buckets", {"t": "64"})):
        cfg_path.write_text(json.dumps({"warehouse": "wh", key: bad}))
        with pytest.raises(ValueError, match=f"config key '{key}'"):
            load_config(str(cfg_path))


def test_example_pipeline_config_loads():
    from pathlib import Path

    from sql_identity_resolution_spark.plans.cli import load_config

    cfg = load_config(str(Path(__file__).resolve().parents[1] / "examples" / "pipeline.json"))
    assert cfg.max_iters == 60
    assert {s.table_id for s in cfg.sources} == {"crm", "chat"}
    assert {r.rule_id for r in cfg.rules} >= {"R_EMAIL_EXACT", "R_PHONE_EXACT", "R_LSH_TEXT"}
