"""Round-6: python-worker pool warmup + preloaded daemon (session.py)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sql_identity_resolution_spark import session as S


def test_daemon_preload_configured_for_local_master(spark):
    # build_session (conftest fixture) runs with a local[*] master, so the
    # preloaded daemon module must be wired in
    assert (
        spark.conf.get("spark.python.daemon.module")
        == "sql_identity_resolution_spark.daemon_preload"
    )


def test_daemon_preload_module_delegates_to_pyspark():
    import sql_identity_resolution_spark.daemon_preload as dp

    from pyspark.daemon import manager

    assert dp.manager is manager


def test_warmup_is_idempotent_and_workers_stay_functional(spark):
    # the fixture session was warmed at build; calling the warmup body again
    # must be a no-op-safe action and leave the worker pool usable
    S._warm_python_workers(spark, 4)
    df = spark.range(0, 100, 1, 4)

    def fn(it):
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame({"n": [int(pdf["id"].sum())]})

    total = sum(r["n"] for r in df.mapInPandas(fn, "n long").collect())
    assert total == sum(range(100))


def test_warmup_once_per_application(spark):
    assert spark.sparkContext.applicationId in S._WARMED_APPS
    before = len(S._WARMED_APPS)
    S.build_session(app_name="idr-tests", master="local[*]")  # same app via getOrCreate
    assert len(S._WARMED_APPS) == before


def test_resolve_master_prefers_caller_then_submitted_master(monkeypatch):
    """master=None takes a submitted master, so a cluster deployment does not
    silently run local with the local-only settings."""
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    assert S._resolve_master(None) == "local[3]"
    assert S._resolve_master("local[5]") == "local[5]"
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--master spark://head:7077 pyspark-shell")
    assert S._resolve_master(None) == "spark://head:7077"
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--master=yarn pyspark-shell")
    assert S._resolve_master(None) == "yarn"
    assert S._resolve_master("local[2]") == "local[2]"
