"""Physical-plan quality gates (SURVEY.md §4): the optimizations the 100 TB
design depends on must be visible in .explain() output — filter/column
pushdown into the parquet scan, broadcast of the small join side, salted
two-phase aggregation shape. Plans regress silently; these tests pin them.
"""

import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_parquet_filter_and_column_pushdown(spark, tmp_path):
    from tile_gen_spark.sources.synth import gen_pages
    p = str(tmp_path / "pages")
    gen_pages(spark, 300, seed=1).write.parquet(p)
    df = (spark.read.parquet(p)
          .filter(F.col("lang") == "en")
          .select("url", "lang"))
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[.*EqualTo\(lang,en\).*\]", plan)
    # column pruning: html:binary must NOT be read for a url/lang projection
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and "html" not in m.group(1)


def test_pip_join_broadcasts_zone_index(spark):
    from tile_gen_spark.sources.synth import gen_zones
    from tile_gen_spark.operators.spatial_join import pip_join
    pts = spark.range(100).select(
        F.col("id").alias("point_id"),
        (F.pmod(F.hash("id"), F.lit(340000000)) / 1000000.0 - 170.0).alias("lon"),
        (F.pmod(F.hash("id"), F.lit(140000000)) / 1000000.0 - 70.0).alias("lat"))
    out = pip_join(pts, gen_zones(spark, 20, seed=3), res=4)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the big (points) side must not sort-merge: no SortMergeJoin wanted
    assert "SortMergeJoin" not in plan


def test_point_path_has_no_python_udf(spark):
    """The relational point path must stay JVM-side: no ArrowEvalPython /
    BatchEvalPython nodes anywhere in the plan (BASELINE.json:15)."""
    from tile_gen_spark.operators.tiles import clip_points_relational
    pts = spark.range(100).select(
        F.col("id").alias("feature_id"), F.lit("point").alias("kind"),
        F.array(F.array((F.pmod(F.hash("id"), F.lit(340000000)) / 1000000.0 - 170.0),
                        (F.pmod(F.hash("id"), F.lit(140000000)) / 1000000.0 - 70.0))).alias("coords"),
        F.create_map(F.lit("k"), F.lit("v")).alias("props"))
    out = clip_points_relational(pts, [0, 6, 12])
    plan = _plan(out)
    assert "EvalPython" not in plan
    assert "codegen id" in plan  # whole-stage codegen spans


def test_salted_agg_two_phase_shape(spark):
    from tile_gen_spark.operators.tiles import tile_feature_lists
    clipped = spark.range(100).select(
        F.lit(3).cast("int").alias("z"), (F.col("id") % 4).alias("x"),
        (F.col("id") % 3).alias("y"), F.col("id").alias("feature_id"),
        F.lit("point").alias("kind"),
        F.array(F.array(F.lit(1), F.lit(2))).cast("array<array<int>>").alias("geom"),
        F.create_map(F.lit("k"), F.lit("v")).alias("props"))
    plan = _plan(tile_feature_lists(clipped, salt=4))
    # two aggregation layers (salted partial + final) must both be present
    assert plan.count("HashAggregate") >= 2 or plan.count("ObjectHashAggregate") >= 2
    assert "pmod" in plan


def test_tile_sink_clustering_plan(spark):
    """O2: the sink input must show a hash exchange on (z, x) with a
    partition-local Sort on (z, x, y) above it — tile-range scan locality."""
    from tile_gen_spark.sources.catalog import cluster_tiles
    tiles = spark.range(1000).select(
        (F.col("id") % 13).cast("int").alias("z"), (F.col("id") % 40).alias("x"),
        (F.col("id") % 37).alias("y"), F.lit(1).cast("int").alias("n_features"))
    plan = _plan(cluster_tiles(tiles))
    assert re.search(r"hashpartitioning\(z#\d+, x#\d+", plan)
    m = re.search(r"\[z#\d+\w* ASC[^\]]*x#\d+\w* ASC[^\]]*y#\d+\w* ASC[^\]]*\], (\w+), 0", plan)
    assert m and m.group(1) == "false"  # partition-local Sort, not global


def test_broadcast_dim_join_autodetected(spark, tmp_path):
    """Catalyst must auto-broadcast a small dim parquet table (J3)."""
    import os
    small = spark.range(10).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    big = spark.range(100000).select(F.col("id").alias("k2"), (F.col("id") % 10).alias("k"))
    sp = str(tmp_path / "dim")
    small.write.parquet(sp)
    j = big.join(spark.read.parquet(sp), "k")
    assert "BroadcastHashJoin" in _plan(j)


def test_bbox_filter_pushdown(spark, tmp_path):
    """P3: the standalone bbox predicate must reach the parquet scan as
    four pushed range filters on lon/lat (row-group min/max pruning at
    100 TB) and survive column pruning."""
    from tile_gen_spark.operators.spatial_join import bbox_filter
    p = str(tmp_path / "pts")
    spark.range(1000).select(
        F.col("id").alias("point_id"),
        (F.pmod(F.hash("id"), F.lit(340000000)) / 1000000.0 - 170.0).alias("lon"),
        (F.pmod(F.hash("id"), F.lit(140000000)) / 1000000.0 - 70.0).alias("lat"),
        F.lit("payload").alias("extra")).write.parquet(p)
    df = bbox_filter(spark.read.parquet(p), -10.0, -20.0, 30.0, 40.0).select(
        "point_id", "lon", "lat")
    plan = _plan(df)
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(lon,-10\.0\)", plan)
    assert re.search(r"LessThanOrEqual\(lon,30\.0\)", plan)
    assert re.search(r"GreaterThanOrEqual\(lat,-20\.0\)", plan)
    assert re.search(r"LessThanOrEqual\(lat,40\.0\)", plan)
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and "extra" not in m.group(1)


def test_zoom_filter_pushdown(spark, tmp_path):
    """P3 companion: zoom predicate prunes partitionBy(z) directories —
    the scan's partition filters must carry the z range."""
    from tile_gen_spark.operators.spatial_join import zoom_filter
    p = str(tmp_path / "tiles")
    spark.range(2000).select(
        (F.col("id") % 13).cast("int").alias("z"), F.col("id").alias("x"),
        (F.col("id") % 37).alias("y")).write.partitionBy("z").parquet(p)
    df = zoom_filter(spark.read.parquet(p), 3, 5)
    plan = _plan(df)
    assert re.search(r"PartitionFilters: \[.*\(z#\d+ >= 3\).*\(z#\d+ <= 5\)", plan)


def test_dim_agg_props_skip_all_exchanges(spark):
    """build_tile_features' agg plan shape (tile_feature_lists_dim): exactly
    ONE exchange (r7 — the salted two-phase's second exchange + explode was
    measured pure overhead in this variant since every post-exchange stage
    runs per row in one task either way), lean rows (no kind/props columns
    in the exchange's Input), plus one BroadcastExchange for the dim; the
    nest/join/final full-width collect add NO shuffle."""
    from tile_gen_spark.operators.tiles import tile_feature_lists_dim
    clipped = spark.range(200).select(
        (F.col("id") % 2).cast("int").alias("z"), (F.col("id") % 4).alias("x"),
        (F.col("id") % 3).alias("y"), F.col("id").alias("feature_id"),
        F.array(F.lit(1), F.lit(2)).cast("array<int>").alias("geom"),
        F.array(F.lit(0), F.lit(2)).cast("array<int>").alias("off"))
    dim = spark.range(200).select(
        F.col("id").alias("feature_id"), F.lit("point").alias("kind"),
        F.create_map(F.lit("k"), F.lit("v")).alias("props"))
    out = tile_feature_lists_dim(clipped, dim)
    plan = _plan(out)
    n_shuffle = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_shuffle == 1, plan
    assert "BroadcastExchange" in plan
    # kind/props must not appear in any shuffle Exchange's Input row — and
    # with the r6 packed tile key (default), neither do z/x/y: the key is
    # one _txy bigint until the post-agg unpack projection
    for m in re.finditer(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan):
        cols = m.group(1)
        assert "kind" not in cols and "props" not in cols, cols
        assert "_txy" in cols and "z#" not in cols, cols
    assert "EvalPython" not in plan and "MapInPandas" not in plan

    # unpacked-key escape hatch keeps the identical exchange count
    plan0 = _plan(tile_feature_lists_dim(clipped, dim, pack_key=False))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan0)) == 1, plan0
