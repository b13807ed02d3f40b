"""A6 + J9 (SURVEY.md §2.4, §2.3): skew detection and salting.

``BASELINE.json:6,14``: "Skew from dense tiles (cities) is handled with
salted repartitioning and AQE skew-join splitting." AQE (enabled in
plans/session.py) splits skewed JOIN partitions at runtime. The production
``collect_list`` agg (tiles.tile_feature_lists_dim) is unsalted — its one
hash(tile key) exchange, over-partitioned on large inputs
(tiles.clip_parts), measured faster than the two-phase salt — so the factor
picked here drives only the salted two-phase shape of the nested reference
tiles.tile_feature_lists. The pre-pass is a ~KB
aggregate collect (SURVEY.md §4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def suggest_salt(assignments: DataFrame, target_per_reducer: int = 5000,
                 max_salt: int = 64) -> int:
    """Salt factor from the hottest tile: ceil(max_tile_count / target).

    1 (no salt) when even the densest city tile fits one reducer's list."""
    row = (assignments.groupBy("z", "x", "y").count()
           .agg(F.max("count").alias("mx")).first())
    mx = row["mx"] or 0
    salt = int((mx + target_per_reducer - 1) // target_per_reducer)
    return max(1, min(salt, max_salt))

