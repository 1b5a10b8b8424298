"""spark-submit entry point.

    spark-submit --py-files dist/idr.zip dist/idr_main.py \
        --config pipeline.json --mode INCR [--dry-run]

≙ the reference's orchestrator invocations (``python sql/duckdb/core/idr_run.py
--db=… --run-mode=FULL|INCR [--dry-run]``, idr_run.py:34-47). The config file
is the metadata-as-data bundle (sources/rules/mappings/exclusions/trust —
same shapes as metadata_samples/*.csv in the reference, one JSON/YAML doc here).

Packaging: ``make zip`` (build_pyfiles.py) produces ``dist/idr.zip`` plus the
``dist/idr_main.py`` application file (spark-submit has no ``python -m``
option, so a real file must be the application); in local mode plain
``python -m sql_identity_resolution_spark.plans.cli`` works.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys
import types
import typing

from sql_identity_resolution_spark.config import EngineConfig


def _fits(value, hint) -> bool:
    """``value`` (parsed JSON/YAML) has the annotated type ``hint``; a bool
    is not an int."""
    origin, args = typing.get_origin(hint), typing.get_args(hint)
    if origin in (typing.Union, types.UnionType):
        return any(_fits(value, a) for a in args)
    if origin is list:
        return isinstance(value, list) and all(_fits(v, args[0]) for v in value)
    if origin is dict:
        return isinstance(value, dict) and all(
            _fits(k, args[0]) and _fits(v, args[1]) for k, v in value.items())
    if hint is type(None):
        return value is None
    return isinstance(value, hint) and (hint is bool or not isinstance(value, bool))


def load_config(path: str) -> EngineConfig:
    """JSON (or YAML when pyyaml is available) → EngineConfig.
    ≙ tools/load_metadata.py:9-13 loading metadata_samples/*.csv.

    Every ``EngineConfig`` field is a top-level key, plus
    ``transcript_sources``. List fields build through their dataclasses;
    every other value must have its field's annotated type. Raises
    ``ValueError`` naming an unknown key (a typo or a setting the engine no
    longer has fails loudly instead of being ignored) or a mistyped one."""
    with open(path) as f:
        text = f.read()
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:
        try:
            import yaml  # type: ignore

            doc = yaml.safe_load(text)
        except ImportError as e:
            raise ValueError(f"{path} is not JSON and pyyaml is unavailable") from e
        except Exception as e:
            raise ValueError(f"{path}: neither valid JSON nor YAML: {e}") from e
    if not isinstance(doc, dict) or "warehouse" not in doc:
        raise ValueError(f"{path}: config must be a mapping with a 'warehouse' key")
    hints = typing.get_type_hints(EngineConfig)
    known = {f.name for f in dataclasses.fields(EngineConfig)} | {"transcript_sources"}
    unknown = sorted(set(doc) - known)
    if unknown:
        raise ValueError(f"{path}: unknown config key(s) {unknown}; known: {sorted(known)}")

    transcripts = doc.pop("transcript_sources", None) or []
    kwargs = {}
    for key, value in doc.items():
        hint = hints[key]
        item = typing.get_args(hint)[0] if typing.get_origin(hint) is list else None
        if dataclasses.is_dataclass(item) and isinstance(value, list):
            try:
                kwargs[key] = [item(**r) for r in value]
            except TypeError as e:
                raise ValueError(f"{path}: config key {key!r}: {e}") from e
        elif _fits(value, hint):
            kwargs[key] = value
        else:
            raise ValueError(f"{path}: config key {key!r} must be {hint}, got {value!r}")
    cfg = EngineConfig(**kwargs)
    # transcripts sources: {"table_id": ..., "path": ..., "lsh_threshold": ...}
    from sql_identity_resolution_spark.sources.transcripts import (
        transcripts_attributes,
        transcripts_source,
    )

    if transcripts and "emit_duplicate_text_pairs" not in doc:
        # transcripts wiring always ships R_FULL_TEXT_EXACT, which already
        # links identical texts — the linear dup pairs would be redundant
        cfg.emit_duplicate_text_pairs = False
    for t in transcripts:
        with_attrs = t.pop("golden_attributes", True)
        src, rules, mappings = transcripts_source(**t)
        cfg.sources.append(src)
        cfg.rules.extend(rules)
        cfg.mappings.extend(mappings)
        if with_attrs:
            cfg.attributes.extend(transcripts_attributes(t["table_id"]))
    return cfg


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="idr-run", description=__doc__)
    ap.add_argument("--config", required=True, help="pipeline config JSON/YAML")
    ap.add_argument("--mode", default="FULL", choices=["FULL", "INCR"], help="run mode")
    ap.add_argument("--dry-run", action="store_true", help="compute diff, commit nothing")
    ap.add_argument("--master", default=None, help="spark master override (default: env/local)")
    args = ap.parse_args(argv)

    from sql_identity_resolution_spark.plans.pipeline import IDRPipeline
    from sql_identity_resolution_spark.session import build_session

    cfg = load_config(args.config)
    spark = build_session(app_name="idr-run", master=args.master)
    res = IDRPipeline(spark, cfg).run(mode=args.mode, dry_run=args.dry_run)
    print(
        json.dumps(
            {
                "run_id": res.run_id,
                "status": res.status,
                "mode": res.mode,
                "dry_run": res.dry_run,
                "entities_processed": res.entities_processed,
                "edges_created": res.edges_created,
                "clusters_impacted": res.clusters_impacted,
                "lp_iterations": res.lp_iterations,
                "duration_seconds": res.duration_seconds,
                "stage_seconds": res.stage_seconds,
                "warnings": res.warnings,
            }
        )
    )
    return 0 if res.status.startswith(("SUCCESS", "DRY_RUN")) else 1


if __name__ == "__main__":
    sys.exit(main())
