"""A6 + J9 (SURVEY.md §2.4, §2.3): skew detection and salting.

``BASELINE.json:6,14``: "Skew from dense tiles (cities) is handled with
salted repartitioning and AQE skew-join splitting." AQE (enabled in
plans/session.py) splits skewed JOIN partitions at runtime; aggregation skew
on the non-algebraic ``collect_list`` needs the explicit two-phase salt in
tiles.tile_feature_lists. This module provides the stats pre-pass that picks
the salt factor: a ~KB histogram collect — the only driver-side data movement
in the pipeline (SURVEY.md §4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tile_density_stats(assignments: DataFrame) -> DataFrame:
    """Per-zoom feature-count histogram: p50/p99/max features per tile."""
    per_tile = assignments.groupBy("z", "x", "y").count()
    return (per_tile.groupBy("z")
            .agg(F.count("*").alias("n_tiles"),
                 F.expr("percentile_approx(count, 0.5)").alias("p50"),
                 F.expr("percentile_approx(count, 0.99)").alias("p99"),
                 F.max("count").alias("max_count"),
                 F.sum("count").alias("total")))


def suggest_salt(assignments: DataFrame, target_per_reducer: int = 5000,
                 max_salt: int = 64) -> int:
    """Salt factor from the hottest tile: ceil(max_tile_count / target).

    1 (no salt) when even the densest city tile fits one reducer's list."""
    row = (assignments.groupBy("z", "x", "y").count()
           .agg(F.max("count").alias("mx")).first())
    mx = row["mx"] or 0
    salt = int((mx + target_per_reducer - 1) // target_per_reducer)
    return max(1, min(salt, max_salt))

