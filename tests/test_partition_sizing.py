"""The clip and agg exchanges' partition count (tiles.clip_parts): the
shuffle partitions, ×OVERPART only when the input's optimized-plan size is
at least OVERPART_MIN_BYTES per partition. The rule is pinned at measured
input sizes, build_tile_features is checked to put its one count on every
clip and agg exchange, and its rows must not depend on that count."""

import re

from tests.test_pipeline import _canon_tiles
from tests.test_plans import _plan
from tile_gen_spark.operators import tiles as T
from tile_gen_spark.plans.session import shuffle_parts


def _exchange_counts(plan: str) -> dict[str, list[int]]:
    """hashpartitioning counts of the barrier, clip and agg exchanges."""
    pats = {"barrier": r"hashpartitioning\(feature_id#\d+L?, (\d+)\)",
            "clip": r"hashpartitioning\(feature_id#\d+L?, _z#\d+, (\d+)\)",
            "agg": r"hashpartitioning\(_txy#\d+L?, (\d+)\)"}
    return {k: sorted({int(n) for n in re.findall(p, plan)})
            for k, p in pats.items()}


def test_clip_parts_at_measured_sizes():
    # cached features of 4,000 uniform pages at 4 shuffle partitions
    assert T.clip_parts(1_340_000, 4) == 4
    # 400k city-skewed pages (113 MB): the old ×4 at 8 and at 64 partitions
    assert T.clip_parts(113_000_000, 8) == 32
    assert T.clip_parts(113_000_000, 64) == 256
    # the threshold is OVERPART_MIN_BYTES per shuffle partition, inclusive
    edge = 4 * T.OVERPART_MIN_BYTES
    assert T.clip_parts(edge - 1, 4) == 4
    assert T.clip_parts(edge, 4) == 4 * T.OVERPART


def test_build_tile_features_exchanges_use_derived_count(spark, features):
    base = shuffle_parts(spark)
    n = T._n_clip_parts(features)
    # the test corpus is far below OVERPART_MIN_BYTES per partition
    assert T.plan_bytes(features) < base * T.OVERPART_MIN_BYTES
    assert n == base
    counts = _exchange_counts(_plan(T.build_tile_features(features, [3, 7])))
    assert counts == {"barrier": [n], "clip": [n], "agg": [n]}, counts


def test_build_tile_features_rows_independent_of_count(spark, features,
                                                       monkeypatch):
    zooms = [3, 7, 11]
    small = T.build_tile_features(features, zooms)
    monkeypatch.setattr(T, "plan_bytes", lambda df: 1 << 62)
    large = T.build_tile_features(features, zooms)
    n = shuffle_parts(spark) * T.OVERPART
    assert _exchange_counts(_plan(large)) == {
        "barrier": [n], "clip": [n], "agg": [n]}
    a, b = _canon_tiles(small), _canon_tiles(large)
    assert len(a) > 50
    assert a == b
