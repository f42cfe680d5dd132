"""`udata-hydra load-catalog` analog — submit with:

    spark-submit --py-files dist/hydra_spark.zip jobs/load_catalog.py \
        --catalog path/to/catalog.csv --store /path/to/store

Reference cli/catalog.py:20-113: download catalog CSV → mark-deleted
sweep → per-row UPSERT (skip archived) → stuck-status cleanup. Here the
whole load is ONE Spark job: read CSV → MERGE into the frontier (one
full-outer join on resource_id) → missing rows marked deleted → the
seen shards learn the new URLs. The first load merges into an empty
frontier; re-running with a newer export is the incremental catalog
refresh. `--keep-missing` leaves unlisted rows as they are (re-listed
ones are still undeleted).

Emits one JSON summary line on stdout.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="hydra_spark catalog loader")
    p.add_argument("--catalog", required=True, help="catalog CSV (data.gouv export shape)")
    p.add_argument("--store", required=True, help="StateStore directory")
    p.add_argument("--keep-missing", action="store_true",
                   help="do NOT mark frontier rows missing from this export as deleted")
    args = p.parse_args(argv)

    spark = (
        SparkSession.builder.appName("hydra_spark_load_catalog")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from hydra_spark.catalog import read_catalog_csv, upsert_catalog
    from hydra_spark.storage import StateStore

    store = StateStore(args.store)
    stats = upsert_catalog(
        spark, store, read_catalog_csv(spark, args.catalog),
        mark_missing_deleted=not args.keep_missing,
    )
    frontier = store.frontier.read(spark)
    print(json.dumps({
        "summary": True,
        **stats,
        "frontier_rows": frontier.count(),
        "deleted_rows": frontier.where("deleted").count(),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
