"""Catalog load / frontier upsert (S1/SO2) as one keyed MERGE.

Reference: udata_hydra/cli/catalog.py:20-113 — download the data.gouv
catalog CSV (`;`-separated), soft-delete everything, upsert each
non-archived row, then reset stuck statuses. Here one declarative job:

read CSV → project/clean → MERGE INTO frontier as one full-outer join
on resource_id (update metadata of known resources, insert new ones,
soft-delete gone ones) → OR the URLs new to the frontier into the
URL-seen shards.

`upsert_catalog` is the one merge: the first load (into an empty
frontier), every refresh, and the single-row `insert_resource` /
`insert_url` all go through it, so every URL they admit reaches the
seen shards. `as_frontier_rows` is the one builder of new frontier
rows; link discovery builds its rows with it too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hydra_spark.config import DEFAULT, HydraConfig
from hydra_spark.functions.urls import host_bucket
from hydra_spark.schemas import FRONTIER_SCHEMA
from hydra_spark.seen import BloomSeenSet
from hydra_spark.storage import StateStore

def read_catalog_csv(spark: SparkSession, path: str) -> DataFrame:
    """data.gouv catalog export: `;`-separated with header
    (cli/catalog.py:20-98; columns per tests/data/catalog.csv)."""
    raw = spark.read.option("sep", ";").option("header", True).csv(path)
    # the export's headers contain literal dots (dataset.id,
    # harvest.modified_at, ...) — backticks keep them column NAMES, not
    # struct field paths
    df = raw.select(
        F.col("`dataset.id`").alias("dataset_id"),
        F.col("id").alias("resource_id"),
        F.col("url"),
        F.col("type"),
        F.col("format"),
        F.to_timestamp(F.col("`harvest.modified_at`")).alias("harvest_modified_at"),
        F.col("title"),
        F.col("`dataset.archived`").alias("_archived"),
    )
    # archived datasets are skipped at load (cli/catalog.py:58-59)
    return df.where(F.col("_archived") == "False").drop("_archived")


def as_frontier_rows(catalog: DataFrame, cfg: HydraConfig = DEFAULT) -> DataFrame:
    """One row per resource_id, projected onto FRONTIER_SCHEMA in one
    select: cast the columns ``catalog`` has, default the ones it lacks
    (not deleted, not priority, host_bucket from the url, NULL
    otherwise). The dedup runs first, so only the input's columns go
    through its shuffle."""
    have = set(catalog.columns)
    defaults = {
        "deleted": F.lit(False),
        "priority": F.lit(False),
        "host_bucket": host_bucket("url", cfg.frontier_buckets),
    }
    return catalog.dropDuplicates(["resource_id"]).select(
        *[
            (F.col(f.name) if f.name in have else defaults.get(f.name, F.lit(None)))
            .cast(f.dataType).alias(f.name)
            for f in FRONTIER_SCHEMA.fields
        ]
    )


def upsert_catalog(
    spark: SparkSession,
    store: StateStore,
    incoming: DataFrame,
    cfg: HydraConfig = DEFAULT,
    mark_missing_deleted: bool = True,
) -> dict:
    """MERGE the incoming catalog into the frontier: ONE full-outer join
    on resource_id, the MERGE key (cli/catalog.py:61-76 INSERT ... ON
    CONFLICT (resource_id) DO UPDATE). An empty store merges into an
    empty frontier, so the first load is the same join.

    - matched resource_id  → refresh metadata (a NULL incoming value
      keeps the stored one; a moved URL also moves its host_bucket),
      undelete
    - new resource_id      → insert the row as `as_frontier_rows` builds it
    - missing from incoming→ soft-delete (UPDATE catalog SET deleted,
      cli/catalog.py:49-56) when mark_missing_deleted, else kept as is

    The seen shards then learn the incoming URLs the frontier did not
    hold: the inserted resources' URLs and the moved URLs of matched
    ones. A store without seen shards gets them built from the result.
    """
    if store.frontier.exists():
        frontier = store.frontier.read(spark)
    else:
        frontier = spark.createDataFrame([], FRONTIER_SCHEMA)
    inc = as_frontier_rows(incoming, cfg)

    refreshed = ("dataset_id", "url", "harvest_modified_at", "type", "format", "title")
    # frontier keys are never NULL: a NULL one marks an incoming-only row
    in_fr = F.col("resource_id").isNotNull()
    listed = F.col("_n_resource_id").isNotNull()

    def merged_col(c: str):
        if c == "resource_id":
            return F.coalesce(F.col(c), F.col("_n_resource_id"))
        if c in refreshed:
            return F.coalesce(F.col(f"_n_{c}"), F.col(c))
        if c == "deleted":
            return F.when(listed, F.lit(False)).otherwise(
                F.lit(True) if mark_missing_deleted else F.col(c)
            )
        kept = F.when(in_fr, F.col(c)).otherwise(F.col(f"_n_{c}"))
        if c == "host_bucket":
            # the bucket hashes the URL's host, and the claim's
            # per-domain cap counts within one bucket: a moved URL
            # takes its new one
            return F.when(F.col("_n_url") != F.col("url"), F.col("_n_host_bucket")).otherwise(kept)
        return kept

    j = frontier.join(
        inc.select(*[F.col(c).alias(f"_n_{c}") for c in inc.columns]),
        F.col("resource_id") == F.col("_n_resource_id"),
        "full_outer",
    )
    result = j.select(*[merged_col(c).alias(c) for c in frontier.columns])
    sid = store.frontier.commit(result, meta={"op": "upsert_catalog"})

    bloom = BloomSeenSet(n_shards=cfg.bloom_shards, fpp=cfg.bloom_fpp)
    if store.seen.exists():
        new_urls = inc.select("url").join(frontier.select("url"), "url", "left_anti")
        store.seen.commit(bloom.update(store.seen.read(spark), new_urls))
    else:
        store.seen.commit(bloom.build(result.select("url")))

    return {"snapshot": sid}


def insert_resource(
    spark: SparkSession,
    store: StateStore,
    resource_id: str,
    url: str,
    dataset_id: str | None = None,
    title: str | None = None,
    type: str | None = None,
    format: str | None = None,
    harvest_modified_at: str | None = None,
    cfg: HydraConfig = DEFAULT,
) -> dict:
    """Single-resource catalog upsert (cli/catalog.py:115-173
    `insert_resource_into_catalog` / :176-219 `insert_url_into_catalog`):
    inserts or refreshes ONE frontier row without resyncing the whole
    catalog. The reference resolves metadata from the data.gouv API;
    here metadata comes from the caller (no network in the engine).
    Returns {'action': 'insert'|'update', 'snapshot': id}.

    The row goes through `upsert_catalog` with mark_missing_deleted off:
    a matched row is undeleted and its metadata refreshed, exactly the
    reference's ON CONFLICT UPDATE (incl. `deleted = FALSE`), and the
    seen shards learn the URL. Scale note: this is a debug/ops utility;
    like a catalog load, it shuffles and rewrites the whole frontier."""
    row = spark.createDataFrame(
        [(dataset_id, resource_id, url, type, format, title)],
        "dataset_id string, resource_id string, url string, "
        "type string, format string, title string",
    ).withColumn(
        "harvest_modified_at",
        F.to_timestamp(F.lit(harvest_modified_at)) if harvest_modified_at else F.lit(None).cast("timestamp"),
    )
    existed = store.frontier.exists() and (
        store.frontier.read(spark).where(F.col("resource_id") == resource_id).limit(1).count() > 0
    )
    res = upsert_catalog(spark, store, row, cfg, mark_missing_deleted=False)
    return {"action": "update" if existed else "insert", **res}


def insert_url(
    spark: SparkSession,
    store: StateStore,
    url: str,
    resource_id: str,
    cfg: HydraConfig = DEFAULT,
) -> dict:
    """`insert_url_into_catalog` twin (cli/catalog.py:176-219): fixed
    dataset 'temp_external', type 'main', default format 'csv'."""
    return insert_resource(
        spark, store, resource_id, url,
        dataset_id="temp_external", type="main", format="csv", cfg=cfg,
    )
