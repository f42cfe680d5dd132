"""Frontier batch selection — the priority-queue operator (SURVEY.md §2.4).

Reference: udata_hydra/crawl/select_batch.py:34-91 — three tiers
(priority → never-checked → due), each `ORDER BY random() LIMIT n`,
claimed transactionally. Here the three tier queries collapse into one
scan with a tier column; "random" is a seeded hash (stable across
cluster sizes, unlike ``F.rand`` whose stream depends on partitioning);
the claim is the round's atomic snapshot commit.

Scale notes (100 TB frontier):
- eligibility filters (deleted/status/excluded) are plain predicates →
  pushed to the parquet/Iceberg scan by Catalyst.
- breadth-first across hosts: rank-within-host via a window partitioned
  by domain. The shuffle is keyed on domain; Zipf-heavy hosts are
  bounded because the window only needs row_number (no full sort spill
  per group beyond the group itself) and AQE skew handling is on.
- the final global ``orderBy(...).limit(batch)`` compiles to
  TakeOrderedAndProject — no full sort, only a per-partition top-k
  merge on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hydra_spark.config import HydraConfig
from hydra_spark.functions.urls import excluded_clause, url_domain

# large prime for hash→pseudo-random ordering
_M = 1_000_000_007


def eligible_frontier(frontier: DataFrame, cfg: HydraConfig) -> DataFrame:
    """F1/F8: not deleted, no blocking status (NULL or BACKOFF are
    crawlable — db/resource.py:157-170), not pattern-excluded."""
    return frontier.where(
        (~F.col("deleted"))
        & (F.col("status").isNull() | (F.col("status") == "BACKOFF"))
        & excluded_clause(cfg.excluded_patterns)
    )


def hash_build_side(side: DataFrame, cfg: HydraConfig) -> DataFrame:
    """Hint ``side`` as a SHUFFLE_HASH build side on rounds that take the
    bucket-claim path (the same ``batch_size > bucket_claim_threshold``
    test `select_batch` switches on). Small rounds stay un-hinted so
    Catalyst can broadcast the small side instead (guide §3.1)."""
    return side.hint("SHUFFLE_HASH") if cfg.batch_size > cfg.bucket_claim_threshold else side


def select_batch(
    frontier: DataFrame,
    latest_checks: DataFrame | None,
    cfg: HydraConfig,
    round_id: int,
    now: str,
) -> DataFrame:
    """Pick this round's batch: tier 0 = priority flag, tier 1 = never
    checked, tier 2 = next_check_at due (crawl/select_batch.py:47-89).

    ``latest_checks`` carries (resource_id, next_check_at) of each
    resource's most recent check; None on the first round.
    """
    el = eligible_frontier(frontier, cfg)
    if latest_checks is not None:
        lc = latest_checks.select(
            F.col("resource_id").alias("_rid"), F.col("next_check_at")
        )
        # two narrow key-only sides — hash join skips the sort-merge
        # join's sort of BOTH ~frontier-sized inputs; the build side is
        # (resource_id, next_check_at) only
        lc = hash_build_side(lc, cfg)
        el = el.join(lc, el.resource_id == lc._rid, "left").drop("_rid")
    else:
        el = el.withColumn("next_check_at", F.lit(None).cast("timestamp"))

    now_ts = F.to_timestamp(F.lit(now))
    tier = (
        F.when(F.col("priority"), F.lit(0))
        .when(F.col("last_check").isNull(), F.lit(1))
        .when(F.col("next_check_at").isNull() | (F.col("next_check_at") <= now_ts), F.lit(2))
        .otherwise(F.lit(None).cast("int"))
    )
    el = el.withColumn("tier", tier).where(F.col("tier").isNotNull())

    # prune before the window shuffles: the claim only needs these
    # (status/title/etc. would otherwise ride through both exchanges)
    cols = [
        "dataset_id", "resource_id", "url", "priority", "harvest_modified_at",
        "format", "host_bucket", "tier",
    ]
    el = el.select(*cols)

    # seeded pseudo-random ordering: deterministic for a given round at
    # ANY parallelism (ORDER BY random() analog, select_batch.py:47-56)
    rnd = F.pmod(F.xxhash64("resource_id", F.lit(round_id)), F.lit(_M))
    el = el.withColumn("rnd", rnd).withColumn("domain", url_domain("url"))
    out_cols = cols + ["domain"]

    if cfg.batch_size <= cfg.bucket_claim_threshold:
        # reference-exact semantics: breadth-first rank per host, then a
        # global (host_rank, tier, random) LIMIT — compiles to
        # TakeOrderedAndProject (driver-side top-k merge: fine for small
        # k, serial for huge k). Per-domain claim cap on the SAME window
        # (reference enforces the politeness budget per URL *during* the
        # round, crawl/helpers.py:93-108): a round never claims more than
        # backoff_nb_req URLs of one domain, so politeness holds inside a
        # batch, not just between rounds.
        w = Window.partitionBy("domain").orderBy("tier", "rnd", "resource_id")
        return (
            el.withColumn("host_rank", F.row_number().over(w))
            .where(F.col("host_rank") <= cfg.backoff_nb_req)
            .orderBy("host_rank", "tier", "rnd", "resource_id")
            .limit(cfg.batch_size)
            .select(*out_cols)
        )

    # scale path — the salted per-host-partitioned priority queue (north
    # rule): each host bucket claims an equal quota, ranked by the same
    # (host_rank, tier, rnd) order. No global sort, no serial top-k, and
    # ONE exchange: hash(host_bucket) satisfies both windows' clustering
    # (domain determines its bucket), so the two ranks share the shuffle.
    # Zipf-heavy hosts are SALTED: the per-host rank runs within
    # (domain, salt) shards so no single window group exceeds ~1/salt_k
    # of a hot domain — breadth-first becomes approximate within a salt
    # shard, which is exactly the skew trade the north rule calls for.
    quota = -(-cfg.batch_size // cfg.frontier_buckets)  # ceil
    salt = F.pmod(F.xxhash64("resource_id", F.lit(round_id + 7)), F.lit(cfg.heavy_host_salt))
    el = el.withColumn("salt", salt).repartition(F.col("host_bucket"))
    w1 = Window.partitionBy("host_bucket", "domain", "salt").orderBy("tier", "rnd", "resource_id")
    wb = Window.partitionBy("host_bucket").orderBy("host_rank", "tier", "rnd", "resource_id")
    # Per-domain claim cap WITHOUT unsalting the hot-domain skew: split
    # backoff_nb_req across the salt shards (floor + remainder to the low
    # shards), so the shard caps sum to EXACTLY the budget and a round
    # never claims more than backoff_nb_req URLs of one domain — on the
    # same (domain, salt) window, zero extra shuffles (reference checks
    # the budget per URL during the round, crawl/helpers.py:93-108).
    base, rem = divmod(cfg.backoff_nb_req, cfg.heavy_host_salt)
    shard_cap = F.lit(base) + F.when(F.col("salt") < rem, F.lit(1)).otherwise(F.lit(0))
    return (
        el.withColumn("host_rank", F.row_number().over(w1))
        .where(F.col("host_rank") <= shard_cap)
        .withColumn("bucket_rank", F.row_number().over(wb))
        .where(F.col("bucket_rank") <= quota)
        .select(*out_cols)
    )
