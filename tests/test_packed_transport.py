"""The packed tile key: (z, x, y) ride the agg exchange as ONE bigint
(tiles._TXY_PACK). It is pinned against the unpacked key through
tile_feature_lists_dim, its z <= 29 guard is exercised at z = 30, and the
pack/unpack SQL pair is checked at the domain corners. (The geometry itself
has one transport — interleaved [qx, qy, …] in geom, ring offsets in off —
covered by the nested-reference parity and fixture byte-identity tests.)"""

import pytest
from pyspark.sql import functions as F

from tile_gen_spark.operators import tiles as T


def _canon_tiles(df):
    out = {}
    for r in df.collect():
        out[(r["z"], r["x"], r["y"])] = tuple(
            (f["feature_id"], f["kind"],
             tuple(tuple(p) for p in f["geom"]),
             tuple(sorted((f["props"] or {}).items())))
            for f in r["features"])
    return out


def test_packed_tile_key_equals_unpacked(spark, features):
    """r6 packed tile key: (z,x,y) ride the agg exchange as ONE bigint.
    Pure transport — tile_feature_lists_dim's output must be bit-identical
    with pack_key=True and pack_key=False."""
    zooms = [3, 6]
    flat = T.clip_points_flat(features.filter("kind='point'"), zooms).unionByName(
        T.clip_shapes_flat(features.filter("kind!='point'"), zooms))
    dim = features.select("feature_id", "kind", "props")
    a = _canon_tiles(T.tile_feature_lists_dim(flat, dim, pack_key=False))
    b = _canon_tiles(T.tile_feature_lists_dim(flat, dim, pack_key=True))
    assert len(a) > 20
    assert a == b


def test_packed_tile_key_guard_z30(spark, features):
    """z > 29 cannot be packed (x/y overflow into the z bits). A direct
    tile_feature_lists_dim caller who leaves pack_key=None gets the in-plan
    guard's error instead of corrupt keys; build_tile_features derives
    pack_key from its zooms and returns exact z = 30 tiles through the
    unpacked key."""
    row = spark.createDataFrame(
        [(30, 5, 7, 1, [1, 2, 3, 4], None)],
        "z int, x bigint, y bigint, feature_id bigint, geom array<int>, "
        "off array<int>")
    dim = spark.createDataFrame([(1, "point", None)],
                                "feature_id bigint, kind string, "
                                "props map<string,string>")
    with pytest.raises(Exception, match="requires z <= 29"):
        T.tile_feature_lists_dim(row, dim, pack_key=None).collect()

    pts = features.filter("kind = 'point'")
    got = {(r["z"], r["x"], r["y"], f["feature_id"])
           for r in T.build_tile_features(pts, [30]).collect()
           for f in r["features"]}
    want = {(r["z"], r["x"], r["y"], r["feature_id"])
            for r in T.clip_points_relational(pts, [30]).collect()}
    assert len(want) == pts.count() > 20
    assert {k[0] for k in got} == {30}
    assert got == want


def test_packed_tile_key_pack_roundtrip(spark):
    """The pack/unpack SQL pair is exact across the full domain corners."""
    rows = [(0, 0, 0), (12, 4095, 4095), (29, (1 << 29) - 1, (1 << 29) - 1),
            (7, 1, 127)]
    df = spark.createDataFrame(rows, "z int, x bigint, y bigint")
    out = (df.select(F.expr(T._TXY_PACK).alias("_txy"))
           .select(F.expr("CAST(shiftright(_txy, 58) AS INT)").alias("z"),
                   F.expr(f"shiftright(_txy, 29) & {T._TXY_MASK}").alias("x"),
                   F.expr(f"_txy & {T._TXY_MASK}").alias("y")))
    assert sorted(map(tuple, out.collect())) == sorted(rows)
