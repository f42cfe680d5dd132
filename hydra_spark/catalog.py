"""Catalog load / frontier upsert (S1/SO2) as one keyed MERGE.

Reference: udata_hydra/cli/catalog.py:20-113 — download the data.gouv
catalog CSV (`;`-separated), soft-delete everything, upsert each
non-archived row, then reset stuck statuses. Here one declarative job:

read CSV → project/clean → MERGE INTO frontier as one full-outer join
on resource_id (update metadata of known resources, insert new ones,
soft-delete gone ones) → OR the URLs new to the frontier into the
URL-seen shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hydra_spark.config import DEFAULT, HydraConfig
from hydra_spark.functions.urls import host_bucket
from hydra_spark.schemas import FRONTIER_SCHEMA
from hydra_spark.seen import BloomSeenSet
from hydra_spark.storage import StateStore

CATALOG_KEEP = [
    "dataset_id", "resource_id", "url", "type", "format", "harvest_modified_at", "title",
]


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
    out = catalog
    for f in FRONTIER_SCHEMA.fields:
        if f.name not in out.columns:
            default = {
                "deleted": F.lit(False),
                "priority": F.lit(False),
                "host_bucket": host_bucket("url", cfg.frontier_buckets),
            }.get(f.name, F.lit(None).cast(f.dataType))
            out = out.withColumn(f.name, default)
    return out.select(*FRONTIER_SCHEMA.fieldNames()).dropDuplicates(["resource_id"])


def _moved_bucket(new_url, old_url, new_bucket, kept):
    """The bucket hashes the URL's host, and the claim's per-domain cap
    counts within one bucket: a moved URL takes its new one."""
    return F.when(new_url != old_url, new_bucket).otherwise(kept)


def upsert_catalog(
    spark: SparkSession,
    store: StateStore,
    incoming: DataFrame,
    cfg: HydraConfig = DEFAULT,
    mark_missing_deleted: bool = True,
) -> dict:
    """MERGE the incoming catalog into the frontier: ONE full-outer join
    on resource_id, the MERGE key (cli/catalog.py:61-76 INSERT ... ON
    CONFLICT (resource_id) DO UPDATE).

    - matched resource_id  → refresh metadata (a NULL incoming value
      keeps the stored one; a moved URL also moves its host_bucket),
      undelete
    - new resource_id      → insert the row as `as_frontier_rows` builds it
    - missing from incoming→ soft-delete (UPDATE catalog SET deleted,
      cli/catalog.py:49-56) when mark_missing_deleted

    The seen shards then learn the incoming URLs the frontier did not
    hold: the inserted resources' URLs and the moved URLs of matched ones.
    """
    frontier = store.frontier.read(spark)
    inc = as_frontier_rows(incoming, cfg)

    refreshed = ("dataset_id", "url", "harvest_modified_at", "format", "title")
    # frontier keys are never NULL: a NULL one marks an incoming-only row
    in_fr = F.col("resource_id").isNotNull()

    def merged_col(c: str):
        if c == "resource_id":
            return F.coalesce(F.col(c), F.col("_n_resource_id"))
        if c in refreshed:
            return F.coalesce(F.col(f"_n_{c}"), F.col(c))
        if c == "deleted" and mark_missing_deleted:
            return F.when(in_fr, F.col("_n_resource_id").isNull()).otherwise(F.col("_n_deleted"))
        kept = F.when(in_fr, F.col(c)).otherwise(F.col(f"_n_{c}"))
        if c == "host_bucket":
            return _moved_bucket(F.col("_n_url"), F.col("url"), F.col("_n_host_bucket"), kept)
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

    Scale note: this is a debug/ops utility — ONE broadcast join against
    the frontier and one merge commit; the matched row is undeleted and
    its metadata refreshed, exactly the reference's ON CONFLICT UPDATE
    (incl. `deleted = FALSE`)."""
    row = spark.createDataFrame(
        [(dataset_id, resource_id, url, type, format, title)],
        "dataset_id string, resource_id string, url string, "
        "type string, format string, title string",
    ).withColumn(
        "harvest_modified_at",
        F.to_timestamp(F.lit(harvest_modified_at)) if harvest_modified_at else F.lit(None).cast("timestamp"),
    )
    if not store.frontier.exists():
        sid = store.frontier.commit(as_frontier_rows(row, cfg), meta={"op": "insert_resource"})
        return {"action": "insert", "snapshot": sid}

    frontier = store.frontier.read(spark)
    existed = frontier.where(F.col("resource_id") == resource_id).limit(1).count() > 0
    if existed:
        upd = F.broadcast(
            row.select(
                F.col("resource_id").alias("_rid"),
                F.col("dataset_id").alias("_dsid"),
                F.col("url").alias("_url"),
                F.col("type").alias("_type"),
                F.col("format").alias("_fmt"),
                F.col("title").alias("_title"),
                F.col("harvest_modified_at").alias("_hma"),
            )
        )
        merged = (
            frontier.join(upd, frontier.resource_id == upd._rid, "left")
            .withColumn("dataset_id", F.coalesce("_dsid", "dataset_id"))
            .withColumn(
                "host_bucket",
                _moved_bucket(
                    F.col("_url"), F.col("url"),
                    host_bucket("_url", cfg.frontier_buckets), F.col("host_bucket"),
                ),
            )
            .withColumn("url", F.coalesce("_url", "url"))
            .withColumn("type", F.coalesce("_type", "type"))
            .withColumn("format", F.coalesce("_fmt", "format"))
            .withColumn("title", F.coalesce("_title", "title"))
            .withColumn("harvest_modified_at", F.coalesce("_hma", "harvest_modified_at"))
            .withColumn(
                "deleted",
                F.when(F.col("_rid").isNotNull(), F.lit(False)).otherwise(F.col("deleted")),
            )
            .drop("_rid", "_dsid", "_url", "_type", "_fmt", "_title", "_hma")
        )
    else:
        merged = frontier.unionByName(as_frontier_rows(row, cfg))
    sid = store.frontier.commit(merged, meta={"op": "insert_resource"})
    return {"action": "update" if existed else "insert", "snapshot": sid}


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
