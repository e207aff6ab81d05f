"""Layered TOML configuration.

Mirrors the reference's settings semantics (defaults < settings file < explicit
overrides): /root/reference/src/settings.rs:73-86, schema 10-71, defaults
/root/reference/settings-default.toml:1-43 — re-expressed as dataclasses with
crawl-engine knobs (politeness budget, retry limit, bloom sizing) replacing the
Postgres/Elasticsearch connection details.
"""

from __future__ import annotations

import dataclasses
import tomllib
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any


@dataclass
class GeneralSettings:
    log_file: str = "crawlspark.log"
    debug: bool = False


@dataclass
class DebugSettings:
    # the reference's debug window over the seed list
    # (src/settings.rs:56-60, src/main.rs:154-169)
    dataset_start: int | None = 0
    dataset_limit: int | None = 3


@dataclass
class AbcdSettings:
    fields_file: str = "tests/fixtures/field_spec.json"
    landing_page_field: str = (
        "/DataSets/DataSet/Metadata/Description/Representation/URI"
    )
    storage_dir: str = "raw_data"


@dataclass
class CrawlSettings:
    """Knobs of the PySpark crawl loop (no reference analog: north_rule)."""

    default_host_budget: int = 8        # politeness: max fetches per host per round
    budget_override: int | None = None  # bulk/bench mode: ignore robots budgets
    max_retries: int = 1                # fetch-miss re-enqueue attempts (src/main.rs:190-203 analog)
    max_rounds: int = 64
    bloom_bits: int = 1 << 20           # per-run bloom sizing (scaled up at 10^10)
    bloom_hashes: int = 5
    seen_buckets: int = 32              # hash-range partitions of the seen table
    # probe routing: 'broadcast' ships the whole filter to every executor
    # (local-mode / small-filter only), 'routed' cogroups each batch bucket
    # with ONLY its bitmap row (the 10^10-URL path: a useful bloom is 10+ GB
    # there and must never be collected or broadcast whole), 'auto' picks by
    # total filter size vs bloom_broadcast_max_bytes
    bloom_probe: str = "auto"
    bloom_broadcast_max_bytes: int = 64 << 20
    # seen-set prefilter kind: 'bloom' (append-only; eviction = rebuild) or
    # 'cuckoo' (deletable — re-crawl eviction is a per-bucket fingerprint
    # delete, no rebuild; see seen.PartitionedCuckoo / Crawler.evict)
    seen_filter: str = "bloom"
    cuckoo_entries: int = 1 << 14   # cuckoo buckets per hash-range partition
    cuckoo_slots: int = 4           # fingerprints per cuckoo bucket

    def __post_init__(self) -> None:
        for name, allowed in (("seen_filter", ("bloom", "cuckoo")),
                              ("bloom_probe", ("auto", "broadcast", "routed"))):
            if getattr(self, name) not in allowed:
                raise ValueError(
                    f"crawl.{name} must be one of {allowed}, got {getattr(self, name)!r}"
                )


@dataclass
class WarehouseSettings:
    path: str = "warehouse"
    dataset_table: str = "abcd_datasets"            # settings-default.toml:29
    unit_table: str = "abcd_units"                  # settings-default.toml:36
    translation_suffix: str = "_translation"
    listing_view: str = "dataset_listing"           # settings-default.toml:38
    surrogate_key_column: str = "surrogate_key"     # settings-default.toml:31


@dataclass
class Settings:
    general: GeneralSettings = field(default_factory=GeneralSettings)
    debug: DebugSettings = field(default_factory=DebugSettings)
    abcd: AbcdSettings = field(default_factory=AbcdSettings)
    crawl: CrawlSettings = field(default_factory=CrawlSettings)
    warehouse: WarehouseSettings = field(default_factory=WarehouseSettings)

    @classmethod
    def new(cls, path: str | Path | None = None, overrides: dict | None = None) -> "Settings":
        """Defaults < TOML file (optional) < overrides dict.

        Same layering contract as Settings::new (src/settings.rs:73-86).
        """
        data: dict[str, Any] = {}
        if path is not None:
            with open(path, "rb") as f:
                data = tomllib.load(f)
        if overrides:
            for section, kv in overrides.items():
                data.setdefault(section, {}).update(kv)
        return cls._from_dict(data)

    @classmethod
    def _from_dict(cls, data: dict[str, Any]) -> "Settings":
        sections = dataclasses.fields(cls)
        unknown = set(data) - {f_.name for f_ in sections}
        if unknown:
            raise ValueError(f"unknown settings sections: {sorted(unknown)}")
        kwargs = {}
        for f_ in sections:
            section_cls = f_.default_factory  # type: ignore[union-attr]
            section_data = data.get(f_.name, {})
            known = {x.name for x in dataclasses.fields(section_cls)}
            unknown = set(section_data) - known
            if unknown:
                raise ValueError(f"unknown settings keys in [{f_.name}]: {sorted(unknown)}")
            kwargs[f_.name] = section_cls(**section_data)
        return cls(**kwargs)
