"""Crawl loop driver + checkpoint/resume.

Reference: udata_hydra/crawl/__init__.py:14-41 — infinite loop with a
60 s sleep. Here rounds advance a *simulated* clock (now = start +
round×interval) so politeness windows and the next-check ladder are
deterministic and testable; a production deployment passes wall-clock
timestamps instead. Resume: the StateStore records the last fully
committed round; rerunning continues from round+1 with identical
ordering because every pseudo-random choice is keyed on round_id.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession

from hydra_spark.config import DEFAULT, HydraConfig
from hydra_spark.crawl.round import run_round
from hydra_spark.storage import StateStore

TS_FMT = "%Y-%m-%d %H:%M:%S"


def round_now(start_now: str, round_id: int, round_interval_s: float) -> str:
    """The simulated clock: round ``round_id`` runs at start + (round_id
    − 1) × interval."""
    start = datetime.strptime(start_now, TS_FMT)
    return (start + timedelta(seconds=(round_id - 1) * round_interval_s)).strftime(TS_FMT)


def init_state(store: StateStore, frontier: DataFrame) -> None:
    """Seed the frontier (catalog-load analog, cli/catalog.py:20-98)."""
    store.frontier.commit(frontier, round_id=0)


def run_crawl(
    spark: SparkSession,
    store: StateStore,
    pages: DataFrame,
    cfg: HydraConfig = DEFAULT,
    rounds: int = 1,
    start_now: str = "2025-01-15 00:00:00",
    round_interval_s: float = 60.0,
    robots_rules=None,
    exceptions=None,
    force_analysis=None,
    crawl_delays=None,
) -> list[dict]:
    """Run `rounds` rounds, resuming after the last committed one.

    When ``cfg.mine_traps_every > 0``, every Nth round first mines URL
    templates over the frontier (crawl/traps.py) and extends the F1
    exclusion patterns for THIS process's subsequent rounds — the
    adaptive trap defense proven out in
    BENCH/longrun_discovery_r05.json. The mined patterns are process-
    local (cfg is immutable); a deployment that wants them durable
    persists the miner's report itself.
    """
    # crash recovery: a killed round may have appended batches (checks,
    # outputs, frontier deltas, ...) without reaching commit_round —
    # drop those orphans so the re-run doesn't duplicate its rows
    store.prune_uncommitted()
    first = store.last_round() + 1
    out = []
    base_patterns = tuple(cfg.excluded_patterns)
    for r in range(first, first + rounds):
        if cfg.mine_traps_every and r > 1 and (r - first) % cfg.mine_traps_every == 0:
            from hydra_spark.crawl.traps import trap_exclusion_patterns, url_templates

            pats = trap_exclusion_patterns(
                url_templates(store.frontier.read(spark), min_urls=cfg.trap_min_urls),
                max_patterns=cfg.trap_max_patterns,
            )
            cfg = cfg.with_(excluded_patterns=base_patterns + tuple(pats))
        now = round_now(start_now, r, round_interval_s)
        out.append(run_round(spark, store, pages, cfg, round_id=r, now=now, robots_rules=robots_rules, exceptions=exceptions, force_analysis=force_analysis, crawl_delays=crawl_delays))
    return out
