"""Partition counts sized from plan bytes (plans.session.plan_bytes).

- The clip and agg exchanges (tiles.clip_parts): the shuffle partitions,
  ×OVERPART only when the input's optimized-plan size is at least
  MIN_TASK_BYTES per partition. The rule is pinned at measured input sizes,
  build_tile_features is checked to put its one count on every clip and agg
  exchange, and its rows must not depend on that count.
- The PIP zone side (spatial_join.zone_side): coalesced to one partition
  per MIN_TASK_BYTES, on both sides of the broadcast rule, with rows
  independent of it.
- The broadcast rule (session.broadcast_if_small) keeps its hint at the
  measured 400k-page sizes and drops it over BROADCAST_MAX_BYTES; pip_join
  reads the zone side's bytes once.
- plan_bytes reads a cache built after the DataFrame was first planned.
"""

import contextlib
import re

import pytest
from pyspark.sql import functions as F

from tests.test_pipeline import (_canon_tiles, n_broadcast_hints,
                                 over_broadcast_cutoff)
from tests.test_plans import _plan
from tile_gen_spark.operators import spatial_join as SJ
from tile_gen_spark.operators import tiles as T
from tile_gen_spark.plans import session as session_module
from tile_gen_spark.plans.session import (BROADCAST_MAX_BYTES, MIN_TASK_BYTES,
                                          plan_bytes, shuffle_parts)


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
    # the threshold is MIN_TASK_BYTES per shuffle partition, inclusive
    edge = 4 * MIN_TASK_BYTES
    assert T.clip_parts(edge - 1, 4) == 4
    assert T.clip_parts(edge, 4) == 4 * T.OVERPART


def test_build_tile_features_exchanges_use_derived_count(spark, features):
    base = shuffle_parts(spark)
    n = T._n_clip_parts(features)
    # the test corpus is far below MIN_TASK_BYTES per partition
    assert T.plan_bytes(features) < base * MIN_TASK_BYTES
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


def test_plan_bytes_reads_cache_built_after_planning(spark):
    from tile_gen_spark.sources.synth import gen_zones
    df = gen_zones(spark, 40, seed=11).persist()
    try:
        # df's own plan is optimized (and its statistics kept) before the
        # cache exists: it reports the source estimate from then on
        stored = df._jdf.queryExecution().optimizedPlan().stats()
        assert plan_bytes(df) == int(stored.sizeInBytes())
        df.count()
        cached = (spark._jsparkSession.sharedState().cacheManager()
                  .lookupCachedData(df._jdf).get().cachedRepresentation()
                  .cacheBuilder().sizeInBytesStats().value())
        assert cached > 0
        assert plan_bytes(df) == cached != int(stored.sizeInBytes())
    finally:
        df.unpersist()


def _coalesce_counts(plan: str) -> list[int]:
    """Partition counts of the Coalesce nodes of a formatted plan."""
    return [int(n) for n in re.findall(
        r"\(\d+\) Coalesce\nInput .*\nArguments: (\d+)", plan)]


@pytest.fixture(scope="module")
def pip_inputs(spark):
    from tile_gen_spark.sources.synth import gen_zones
    zones = gen_zones(spark, 40, seed=7).cache()
    zones.count()
    pts = spark.range(500).select(
        F.col("id").alias("point_id"),
        (F.pmod(F.hash("id"), F.lit(340000000)) / 1000000.0 - 170.0).alias("lon"),
        (F.pmod(F.hash(F.col("id") + 99), F.lit(140000000)) / 1000000.0 - 70.0).alias("lat"))
    yield pts, zones
    zones.unpersist()


@pytest.mark.parametrize("broadcast", [True, False])
def test_pip_join_coalesces_zone_side(spark, pip_inputs, broadcast,
                                      monkeypatch):
    pts, zones = pip_inputs
    size = plan_bytes(zones.select("zone_id", "ring"))
    n = max(1, -(-size // MIN_TASK_BYTES))
    assert n == 1 < shuffle_parts(spark)      # 40 zones: a few KB
    # broadcast: the covering rows and the per-edge table are each hinted
    with (contextlib.nullcontext() if broadcast
          else over_broadcast_cutoff(spark)):
        small = SJ.pip_join(pts, zones, res=5)
        assert n_broadcast_hints(small) == (2 if broadcast else 0)
        # the covering and the per-edge table each read the coalesced zones
        assert _coalesce_counts(_plan(small)) == [n, n]
        rows = sorted(small.collect())
        assert len(rows) > 0

        monkeypatch.setattr(SJ, "plan_bytes", lambda df: 1 << 62)
        large = SJ.pip_join(pts, zones, res=5)
        assert _coalesce_counts(_plan(large)) == []
        assert sorted(large.collect()) == rows


def test_zone_side_count_follows_plan_bytes(spark, pip_inputs, monkeypatch):
    _, zones = pip_inputs
    base = shuffle_parts(spark)
    for size, want in ((1, 1), (MIN_TASK_BYTES, 1), (MIN_TASK_BYTES + 1, 2),
                       ((base - 1) * MIN_TASK_BYTES, base - 1),
                       ((base - 1) * MIN_TASK_BYTES + 1, None)):
        monkeypatch.setattr(SJ, "plan_bytes", lambda df, s=size: s)
        side, nbytes = SJ.zone_side(zones)
        got = _coalesce_counts(_plan(side))
        assert nbytes == size and got == ([want] if want else []), (size, got)


def test_broadcast_rule_at_measured_sizes(pages, features, monkeypatch):
    """bench.py's 400k-page shape stays broadcast. Read driver-side with the
    features persisted but not built, as bench.py plans them: the tile
    kind/props dim plans at 43,843,988 bytes and the per-url table at
    25,822,170, both over Spark's 10 MB default threshold. The cutoff is
    BROADCAST_MAX_BYTES, inclusive."""
    from tile_gen_spark.operators.extract import latest_per_url
    for size, hints in ((43_843_988, 1), (BROADCAST_MAX_BYTES, 1),
                        (BROADCAST_MAX_BYTES + 1, 0)):
        monkeypatch.setattr(session_module, "plan_bytes", lambda df, s=size: s)
        assert n_broadcast_hints(T.build_tile_features(features, [3])) == hints
    for size, hints in ((25_822_170, 1), (BROADCAST_MAX_BYTES + 1, 0)):
        monkeypatch.setattr(session_module, "plan_bytes", lambda df, s=size: s)
        assert n_broadcast_hints(latest_per_url(pages)) == hints


def test_pip_join_reads_zone_bytes_once(pip_inputs, monkeypatch):
    """The zone side's plan_bytes decide its coalesce, the covering rows'
    broadcast and the indexed refine; only the per-edge table is read
    again."""
    pts, zones = pip_inputs
    reads = []

    def counting(read):
        return lambda df: reads.append(df.columns) or read(df)

    monkeypatch.setattr(SJ, "plan_bytes", counting(SJ.plan_bytes))
    monkeypatch.setattr(session_module, "plan_bytes",
                        counting(session_module.plan_bytes))
    for refine in ("relational", "indexed"):
        reads.clear()
        SJ.pip_join(pts, zones, res=5, refine=refine)
        assert reads == [["zone_id", "ring"]] + (
            [["zone_id", "x1", "y1", "x2", "y2", "_dx", "_dy", "_seg2", "_eps"]]
            if refine == "relational" else []), reads
