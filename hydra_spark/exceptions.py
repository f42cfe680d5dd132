"""Per-resource exceptions (J8).

Reference: udata_hydra/db/resource_exception.py:10-35 + the
`resources_exceptions` table (migrations/main/20240827): a tiny table of
resource ids allowed to bypass the download size cap, optionally with
desired table indexes. Always a broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_exception_flag(df: DataFrame, exceptions: DataFrame | None) -> DataFrame:
    """Adds `has_exception` (bool) + `exception_indexes` (JSON string) by
    broadcast-joining the exceptions table on resource_id."""
    if exceptions is None:
        return df.withColumn("has_exception", F.lit(False)).withColumn(
            "exception_indexes", F.lit(None).cast("string")
        )
    ex = F.broadcast(
        exceptions.select(
            F.col("resource_id").alias("_exrid"),
            F.col("table_indexes").alias("exception_indexes"),
        )
    )
    return (
        df.join(ex, df.resource_id == F.col("_exrid"), "left")
        .withColumn("has_exception", F.col("_exrid").isNotNull())
        .drop("_exrid")
    )
