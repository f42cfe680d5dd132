"""On-demand resource check — the `POST /api/checks` analog (SURVEY §3.2).

Reference routes/checks.py:59-96: auth → `Resource.get` →
`check_resource(worker_priority="high", force_analysis=True)` →
`Check.get_latest`. Here the same three steps against the Spark engine:

1. `request_check` flags the frontier row via a 'prioritize' MoR delta —
   the next round's tier-0 claim picks it up regardless of its
   next_check_at schedule. The delta attaches to the last COMMITTED
   round id (crash-pruning can never drop it) and timestamps after that
   round's own updates so it wins the read-side merge.
2. `check_on_demand` runs one round with the resource in the
   force-analysis set (re-parse even when content is unchanged —
   `force_analysis=True` parity).
3. `latest_check_for` reads back the freshest check row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from hydra_spark.config import DEFAULT, HydraConfig
from hydra_spark.crawl.loop import round_now, run_crawl
from hydra_spark.storage import StateStore


def request_check(
    spark: SparkSession,
    store: StateStore,
    resource_id: str,
    start_now: str = "2025-01-15 00:00:00",
    round_interval_s: float = 60.0,
) -> None:
    """Flag `resource_id` for a priority check in the next round."""
    upd_at = round_now(start_now, store.last_round() + 1, round_interval_s)
    delta = spark.createDataFrame(
        [(resource_id, None, "prioritize")],
        "_urid string, _new_last_check bigint, _upd string",
    ).withColumn("_upd_at", F.to_timestamp(F.lit(upd_at)))
    store.frontier.append_delta(delta, round_id=store.last_round())


def latest_check_for(
    spark: SparkSession, store: StateStore, resource_id: str
) -> Row | None:
    """`Check.get_latest` analog: the resource's freshest check row."""
    if not store.checks.exists():
        return None
    return (
        store.checks.read(spark)
        .where(F.col("resource_id") == resource_id)
        .orderBy(F.desc("created_at"), F.desc("id"))
        .limit(1)
        .collect() or [None]
    )[0]


def check_on_demand(
    spark: SparkSession,
    store: StateStore,
    pages: DataFrame,
    resource_id: str,
    cfg: HydraConfig = DEFAULT,
    start_now: str = "2025-01-15 00:00:00",
    round_interval_s: float = 60.0,
) -> Row | None:
    """The full POST /api/checks flow: prioritize → one round with
    forced analysis → latest check."""
    request_check(spark, store, resource_id, start_now, round_interval_s)
    forced = spark.createDataFrame([(resource_id,)], "resource_id string")
    run_crawl(
        spark, store, pages, cfg, rounds=1, start_now=start_now,
        round_interval_s=round_interval_s, force_analysis=forced,
    )
    return latest_check_for(spark, store, resource_id)
