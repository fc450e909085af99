"""Table access layer: Iceberg when available, parquet otherwise.

BASELINE.json:input_hint specifies pages stored in Iceberg. This
container ships no iceberg-spark-runtime jar (checked: /opt/spark/jars),
so locally every table reference degrades to a parquet directory with
identical schema and the same call sites. On a real cluster, set

    spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
    spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.local.type=hadoop
    spark.sql.catalog.local.warehouse=<path>

and pass ``local.db.pages``-style refs; everything downstream —
snapshot-based checkpoint lineage included — works unchanged because
all reads funnel through ``read_table``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _is_path(ref: str) -> bool:
    return "/" in ref or os.path.exists(ref)


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """ref = catalog table name (Iceberg) or a parquet directory path."""
    if _is_path(ref):
        return spark.read.parquet(ref)
    return spark.read.table(ref)
