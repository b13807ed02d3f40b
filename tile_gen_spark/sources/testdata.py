"""S3 (SURVEY.md §2.1): driver testdata scan + temp-view registration.

Reads the driver-generated parquet tables (TESTDATA.md) with schema as-is and
registers them as temp views so queries can run as SQL text shared with the
DuckDB oracle (plans/sqlgen.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(name)
