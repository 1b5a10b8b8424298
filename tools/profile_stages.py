"""Per-stage shuffle/IO profiling of the FULL pipeline at a given scale.

Runs the flagship transcripts pipeline with the Spark UI on, then pulls the
REST API and aggregates task time + shuffle read/write + input/output bytes
per pipeline stage (jobGroup set by IDRPipeline.stage()). This is the
measure-first feedback loop for the scaling work: it tells you WHICH stage
moves the bytes before you touch any plan.

Usage: python tools/profile_stages.py [n_conversations] [cpus]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(convs: int = 50_000, cpus: int = 16) -> None:
    os.environ["SPARK_GRAFT_UI"] = "true"
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(cpus * 2)
    from sql_identity_resolution_spark import EngineConfig, IDRPipeline
    from sql_identity_resolution_spark.session import build_session
    from sql_identity_resolution_spark.sources.datagen_spark import generate_transcripts_spark
    from sql_identity_resolution_spark.sources.transcripts import transcripts_source

    tmp = tempfile.mkdtemp(prefix="idr_profile_")
    try:
        spark = build_session(app_name="idr-profile", master=f"local[{cpus}]")
        turns_path = os.path.join(tmp, "turns")
        gen = generate_transcripts_spark(spark, n_conversations=convs, seed=42).drop(
            "truth_cluster_id"
        )
        if os.environ.get("IDR_PROFILE_CLUSTERED"):
            gen = gen.repartition(64, "conv_id").sortWithinPartitions("conv_id", "turn_idx")
        gen.write.parquet(turns_path)

        source, rules, mappings = transcripts_source("chat", turns_path)
        cfg = EngineConfig(
            warehouse=os.path.join(tmp, "wh"), sources=[source], rules=rules, mappings=mappings,
            emit_duplicate_text_pairs=False,  # exact full-text rule covers dups
        )
        if os.environ.get("IDR_PROFILE_ALL_PAIRS_MAX"):
            cfg.scored_all_pairs_max = int(os.environ["IDR_PROFILE_ALL_PAIRS_MAX"])
        if os.environ.get("IDR_PROFILE_NO_BROADCAST"):
            cfg.score_broadcast_max_entities = 0
        if os.environ.get("IDR_PROFILE_CLUSTERED"):
            source, rules, mappings = transcripts_source("chat", turns_path, clustered=True)
            cfg.sources = [source]
        import time

        t0 = time.time()
        res = IDRPipeline(spark, cfg).run("FULL")
        wall = time.time() - t0

        ui = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId

        def get(path):
            with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/{path}") as r:
                return json.load(r)

        jobs = get("jobs")
        stages = {s["stageId"]: s for s in get("stages?status=complete")}
        sid_to_grp = {}
        for j in jobs:
            for sid in j["stageIds"]:
                sid_to_grp.setdefault(sid, j.get("jobGroup") or "(untagged)")
        agg: dict[str, dict[str, float]] = {}
        detail = []
        for sid, st in stages.items():
            grp = sid_to_grp.get(sid, "(unknown)")
            a = agg.setdefault(
                grp,
                dict(task_time_s=0, shuffle_read_mb=0, shuffle_write_mb=0,
                     input_mb=0, output_mb=0, n_stages=0),
            )
            a["task_time_s"] += st["executorRunTime"] / 1000
            a["shuffle_read_mb"] += st["shuffleReadBytes"] / 1e6
            a["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
            a["input_mb"] += st["inputBytes"] / 1e6
            a["output_mb"] += st["outputBytes"] / 1e6
            a["n_stages"] += 1
            detail.append(
                dict(grp=grp, stage=sid, name=st["name"].split("\n")[0][:90],
                     task_s=round(st["executorRunTime"] / 1000, 1),
                     in_mb=round(st["inputBytes"] / 1e6, 1),
                     sh_r_mb=round(st["shuffleReadBytes"] / 1e6, 1),
                     sh_w_mb=round(st["shuffleWriteBytes"] / 1e6, 1))
            )
        detail.sort(key=lambda d: -d["task_s"])
        print(json.dumps({
            "convs": convs, "cpus": cpus, "wall_s": round(wall, 1),
            "counts": {
                "entities": res.entities_processed,
                "identifiers": res.identifiers_extracted,
                "pairs_scored": res.candidate_pairs_scored,
                "edges": res.edges_created,
                "lp_iterations": res.lp_iterations,
            },
            "pipeline_stage_seconds": res.stage_seconds,
            "per_group": {k: {m: round(v, 1) for m, v in a.items()} for k, a in sorted(agg.items())},
            "top_stages": detail[:25],
        }, indent=1))
        spark.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 50_000,
        int(sys.argv[2]) if len(sys.argv) > 2 else 16,
    )
