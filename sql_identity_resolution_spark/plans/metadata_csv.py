"""Reference-format CSV metadata loader.

Reference users configure runs from a ``metadata_samples/*.csv`` bundle loaded
by ``tools/load_metadata.py:9-13`` into the ``idr_meta.*`` tables
(``source_table``, ``source``, ``rule``, ``identifier_mapping``,
``entity_attribute_mapping``, ``survivorship_rule``, optional
``identifier_exclusion``). This module accepts the SAME files unchanged and
builds an :class:`EngineConfig` — migration parity: a reference deployment's
metadata directory drops in as-is.

Differences handled explicitly:
- ``source_table.table_fqn`` names a warehouse table; this engine reads
  parquet/Iceberg paths, so callers supply ``paths={table_id: path}`` (or a
  ``readers`` mapping). Tables with neither are loaded as INACTIVE, preserving
  their metadata while keeping preflight green for partial migrations.
- ``survivorship_rule.strategy``: reference ``SOURCE_PRIORITY`` (trust-rank
  ordered, ties by recency — sql/common/50:50-53) maps to this engine's
  ``TRUST_RECENCY``; ``MOST_RECENT`` is shared.
"""

from __future__ import annotations

import csv
import os
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from sql_identity_resolution_spark.config import (
    AttributeMapping,
    EngineConfig,
    Exclusion,
    IdentifierMapping,
    Rule,
    SourceTable,
    SourceTrust,
)

_STRATEGY_MAP = {"SOURCE_PRIORITY": "TRUST_RECENCY", "MOST_RECENT": "MOST_RECENT"}


def _read(dir_path: str, name: str, required: bool = False) -> list[dict]:
    p = os.path.join(dir_path, f"{name}.csv")
    if not os.path.exists(p):
        if required:
            raise FileNotFoundError(f"metadata bundle is missing {p}")
        return []
    with open(p, newline="") as f:
        return list(csv.DictReader(f))


def _b(v: str | None, default: bool = True) -> bool:
    if v is None or v == "":
        return default
    return str(v).strip().lower() in ("true", "1", "t", "yes", "y")


def _i(v: str | None, default: int = 0) -> int:
    return int(v) if v not in (None, "") else default


def load_metadata_csv(
    dir_path: str,
    warehouse: str,
    paths: Optional[dict[str, str]] = None,
    readers: Optional[dict[str, Callable[[SparkSession], DataFrame]]] = None,
    **engine_kwargs,
) -> EngineConfig:
    """Build an EngineConfig from a reference-format metadata CSV directory.

    Raises ``FileNotFoundError`` when the directory or its ``rule.csv`` is
    missing: a bundle without rules would otherwise load as an empty config.
    The other files are optional."""
    if not os.path.isdir(dir_path):
        raise FileNotFoundError(f"metadata bundle directory not found: {dir_path}")
    paths = paths or {}
    readers = readers or {}

    sources = []
    for r in _read(dir_path, "source_table"):
        tid = r["table_id"]
        has_data = tid in paths or tid in readers
        sources.append(
            SourceTable(
                table_id=tid,
                entity_key_expr=r["entity_key_expr"],
                watermark_column=r["watermark_column"],
                path=paths.get(tid),
                reader=readers.get(tid),
                watermark_lookback_minutes=_i(r.get("watermark_lookback_minutes")),
                is_active=_b(r.get("is_active")) and has_data,
            )
        )

    rules = [
        Rule(
            rule_id=r["rule_id"],
            identifier_type=r["identifier_type"],
            rule_name=r.get("rule_name", ""),
            is_active=_b(r.get("is_active")),
            priority=_i(r.get("priority"), 1),
            canonicalize=(r.get("canonicalize") or "NONE").upper(),
            allow_hashed=_b(r.get("allow_hashed")),
            require_non_null=_b(r.get("require_non_null")),
            max_group_size=_i(r.get("max_group_size"), 10_000),
        )
        for r in _read(dir_path, "rule", required=True)
    ]

    mappings = [
        IdentifierMapping(
            table_id=r["table_id"],
            identifier_type=r["identifier_type"],
            identifier_value_expr=r["identifier_value_expr"],
            is_hashed=_b(r.get("is_hashed"), default=False),
        )
        for r in _read(dir_path, "identifier_mapping")
    ]

    trust = [
        SourceTrust(
            table_id=r["table_id"],
            source_name=r.get("source_name", ""),
            trust_rank=_i(r.get("trust_rank"), 9999),
            is_active=_b(r.get("is_active")),
        )
        for r in _read(dir_path, "source")
    ]

    strategies = {
        r["attribute_name"]: _STRATEGY_MAP.get((r.get("strategy") or "").upper(), "MOST_RECENT")
        for r in _read(dir_path, "survivorship_rule")
    }
    attributes = [
        AttributeMapping(
            attribute_name=r["attribute_name"],
            table_id=r["table_id"],
            attribute_expr=r["attribute_expr"],
            strategy=strategies.get(r["attribute_name"], "MOST_RECENT"),
        )
        for r in _read(dir_path, "entity_attribute_mapping")
    ]

    exclusions = [
        Exclusion(
            identifier_type=r["identifier_type"],
            identifier_value_pattern=r.get("identifier_value_pattern") or r.get("pattern", ""),
            match_type=(r.get("match_type") or "EXACT").upper(),
            reason=r.get("reason", ""),
        )
        for r in _read(dir_path, "identifier_exclusion")
    ]

    return EngineConfig(
        warehouse=warehouse,
        sources=sources,
        rules=rules,
        mappings=mappings,
        exclusions=exclusions,
        attributes=attributes,
        trust=trust,
        **engine_kwargs,
    )
