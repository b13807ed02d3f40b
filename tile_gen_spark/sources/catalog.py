"""S1/S4 (SURVEY.md §1.4, §2.1): table-format isolation layer.

Production target is Iceberg (``BASELINE.json:14,15``: 10^12-row Iceberg
``pages`` table); this sandbox has no Iceberg runtime jar, so the default
format is partitioned Parquet with an Iceberg-shaped layout. Swapping to
Iceberg is a config change here — nothing else in the engine names a format.

Layout conventions:
 - pages:   partitioned by crawl day (``warc_day``) → partition pruning on
   warc_ts range scans; bucket-by-url layout optional for co-located joins.
 - tiles:   partitioned by zoom (``z``) → per-zoom overwrite is atomic and
   resume-idempotent (operators/checkpoint.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def _format() -> str:
    """Table format, re-read per call (not import time) so a config change —
    or a test — can swap formats without a module reload."""
    return os.environ.get("TILEGEN_TABLE_FORMAT", "parquet")  # or "iceberg"

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """S1: schema-enforced pages scan (declared, never inferred)."""
    if _format() == "iceberg":
        return spark.read.format("iceberg").load(path)
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def write_pages(pages: DataFrame, path: str, mode: str = "overwrite") -> None:
    out = pages.withColumn("warc_day", F.to_date("warc_ts"))
    w = out.write.mode(mode).partitionBy("warc_day")
    (w.format("iceberg").saveAsTable(path) if _format() == "iceberg"
     else w.parquet(path))


def cluster_tiles(tiles: DataFrame) -> DataFrame:
    """O2 sink locality: co-locate a zoom's tile range in few files and sort
    rows (z, x, y) inside each — tile-range reads (a viewport is a small
    contiguous x/y rectangle) then touch few row groups and parquet min/max
    stats prune within them. Without this the sink writes shuffle-order rows
    and a 100 TB reader scans every row group of the zoom."""
    return tiles.repartition("z", "x").sortWithinPartitions("z", "x", "y")


def read_tiles(spark: SparkSession, path: str) -> DataFrame:
    if _format() == "iceberg":
        return spark.read.format("iceberg").load(path)
    return spark.read.parquet(path)
