"""Crawl/analysis configuration.

Mirrors the reference's config surface (udata_hydra/config_default.toml)
so the same truth-table tests can shrink windows etc. All values are
injectable per-instance — the reference's tests override e.g.
BACKOFF_PERIOD to 0.25s (tests/test_crawl/test_backoff.py:23).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace


@dataclass(frozen=True)
class HydraConfig:
    # crawl loop (config_default.toml:43-51)
    batch_size: int = 40

    # politeness / backoff (config_default.toml:38-41)
    backoff_nb_req: int = 180
    backoff_period: float = 360.0        # seconds
    cool_off_period: float = 86400.0     # seconds after 429 / quota burn
    stuck_threshold_seconds: float = 3600.0
    no_backoff_domains: tuple[str, ...] = ("static.data.gouv.fr",)

    # frontier selection (config_default.toml:25-29)
    excluded_patterns: tuple[str, ...] = (
        "http%geo.data.gouv.fr%",
        "%?format=shp%",
    )

    # re-check ladder in hours (config_default.toml:48,
    # crawl/calculate_next_check.py:6-44)
    check_delays_hours: tuple[int, ...] = (12, 24, 168, 720)

    # download caps in bytes per format (config_default.toml:59-69)
    max_filesize_allowed: dict = field(
        default_factory=lambda: {
            "csv": 104_857_600,
            "csv.gz": 104_857_600,
            "xls": 104_857_600,
            "xlsx": 104_857_600,
            "geojson": 104_857_600,
            "parquet": 104_857_600,
            "default": 104_857_600,
        }
    )

    # analysis (config_default.toml:100)
    min_lines_for_parquet: int = 200

    # ours: partitioning knobs for scale (SURVEY §2.4, §4 skew row)
    frontier_buckets: int = 64            # host-hash buckets of the frontier
    # batches larger than this claim per-bucket quotas (fully parallel)
    # instead of a global ORDER BY .. LIMIT (driver-side top-k)
    bucket_claim_threshold: int = 10_000
    # fold frontier merge-on-read deltas into the base every K rounds
    compact_every_rounds: int = 10
    heavy_host_salt: int = 8              # extra salt shards for hot hosts
    bloom_fpp: float = 0.01
    bloom_shards: int = 64
    # deployments without the udata webhook switch off the outbox
    # payload writes
    webhook_outbox: bool = True
    # in-round format dispatch beyond CSV/Excel (config_default.toml
    # GEOJSON_TO_PMTILES / PARQUET_TO_DB; data_formats/geojson/
    # __init__.py:24-49, data_formats/parquet/__init__.py:35-62)
    geojson_to_pmtiles: bool = True
    parquet_to_db: bool = True

    # link discovery (Common-Crawl-style frontier growth; off by default
    # — the reference's frontier is the fixed udata catalog)
    discover_links: bool = False
    max_links_per_page: int = 1000
    discover_same_host_only: bool = False
    # adaptive trap defense (crawl/traps.py → F1 exclusion inside
    # run_crawl): re-mine URL templates every N rounds; 0 = off.
    # trap_min_urls must sit ABOVE the legit per-host page fan-out or
    # real templates get excluded (BENCH/longrun_discovery_r05.json)
    mine_traps_every: int = 0
    trap_min_urls: int = 5000
    trap_max_patterns: int = 100

    def with_(self, **kw) -> "HydraConfig":
        return replace(self, **kw)


DEFAULT = HydraConfig()
