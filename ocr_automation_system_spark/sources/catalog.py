"""Table catalog (operators S4/S5 in SURVEY.md §2.1).

Local harness reads parquet directly; the production layout is Iceberg
(``spark.read.format("iceberg").load(...)`` over a table partitioned by
``bucket(N, url)`` / ``days(warc_ts)``) — the API here keeps that swap to one
function. Writes are idempotent overwrite-by-partition so a resumed job can
re-commit a failed partition without duplicating rows (SURVEY.md §2.10).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Driver-provided TPC-H-ish tables (TESTDATA.md).
TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Parquet locally; Iceberg in production (S1 mapping:
    the reference's filesystem read `core/pdf_text.py:5` becomes this scan)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> dict:
    return {name: load_table(spark, sf_dir, name) for name in names}


def write_results(df: DataFrame, path: str) -> None:
    """Result sink (S5). Parquet overwrite locally;
    ``df.writeTo(...).overwritePartitions()`` on Iceberg."""
    df.write.mode("overwrite").parquet(path)
