"""r5 packed flat transport (VERDICT r4 #3 "next bite of the bandwidth
wall"): geom carries one (qx<<16|qy) int per VERTEX (half the array
elements) and off is NULL for single-piece rows. These tests pin the
relational decode and producer/consumer consistency; the end-to-end
equality packed-vs-unpacked is exercised through build_tile_features here,
and the nested-reference parity pytest runs with the default transport.
The r6 packed tile key (one bigint through the agg exchange) is pinned
against the unpacked key, and its z <= 29 guard is exercised at z = 30."""

import pytest
from pyspark.sql import functions as F

from tile_gen_spark.operators import tiles as T


def test_packed_nest_expr_decodes(spark):
    """PACKED_NEST_GEOM_EXPR: null off → single ring; explicit off → ring
    split at vertex offsets; values unpack via shift/mask."""
    pk = lambda x, y: (x << 16) | y
    df = spark.createDataFrame(
        [(1, [pk(3, 4), pk(5, 6)], None),
         (2, [pk(1, 2), pk(3, 4), pk(5, 6)], [0, 2, 3])],
        "feature_id bigint, geom array<int>, off array<int>")
    out = {r["feature_id"]: r["geom"]
           for r in T.nest_geom(df, packed=True).collect()}
    assert out[1] == [[3, 4, 5, 6]]
    assert out[2] == [[1, 2, 3, 4], [5, 6]]


def test_packed_points_flat_matches_unpacked(spark):
    pts = spark.createDataFrame(
        [(i, "point", [[float(i) / 7.0 - 10.0, float(i) / 11.0 + 5.0]], None)
         for i in range(50)],
        "feature_id bigint, kind string, coords array<array<double>>, "
        "props map<string,string>")
    a = T.nest_geom(T.clip_points_flat(pts, [4, 8], pack=False), packed=False)
    b = T.nest_geom(T.clip_points_flat(pts, [4, 8], pack=True), packed=True)
    ka = sorted((r["feature_id"], r["z"], r["x"], r["y"], tuple(map(tuple, r["geom"])))
                for r in a.collect())
    kb = sorted((r["feature_id"], r["z"], r["x"], r["y"], tuple(map(tuple, r["geom"])))
                for r in b.collect())
    assert ka == kb and len(ka) == 100


def _canon_tiles(df):
    out = {}
    for r in df.collect():
        out[(r["z"], r["x"], r["y"])] = tuple(
            (f["feature_id"], f["kind"],
             tuple(tuple(p) for p in f["geom"]),
             tuple(sorted((f["props"] or {}).items())))
            for f in r["features"])
    return out


def test_packed_build_equals_unpacked_all_modes(spark, features, monkeypatch):
    """build_tile_features output must be identical packed vs unpacked (the
    transport is an encoding, not a semantic)."""
    monkeypatch.setenv("TILEGEN_GEOM_PACK", "0")
    a = _canon_tiles(T.build_tile_features(features, [3], salt=2))
    monkeypatch.setenv("TILEGEN_GEOM_PACK", "1")
    b = _canon_tiles(T.build_tile_features(features, [3], salt=2))
    assert len(a) > 20
    assert a == b, "packed transport diverged"


def test_pack_disabled_for_oversized_extent(monkeypatch):
    monkeypatch.setenv("TILEGEN_GEOM_PACK", "1")
    assert T._pack_for(4096) is True
    assert T._pack_for(32767) is True
    assert T._pack_for(65536) is False
    monkeypatch.setenv("TILEGEN_GEOM_PACK", "0")
    assert T._pack_for(4096) is False


def test_packed_tile_key_equals_unpacked(spark, features):
    """r6 packed tile key: (z,x,y) ride the agg exchange as ONE bigint.
    Pure transport — tile_feature_lists_dim's output must be bit-identical
    with pack_key=True and pack_key=False, salted and unsalted."""
    zooms = [3, 6]
    flat = T.clip_points_flat(features.filter("kind='point'"), zooms).unionByName(
        T.clip_shapes_flat(features.filter("kind!='point'"), zooms))
    dim = features.select("feature_id", "kind", "props")
    for salt in (0, 2):
        a = _canon_tiles(T.tile_feature_lists_dim(flat, dim, salt=salt,
                                                  pack_key=False))
        b = _canon_tiles(T.tile_feature_lists_dim(flat, dim, salt=salt,
                                                  pack_key=True))
        assert len(a) > 20
        assert a == b, f"packed tile key diverged at salt={salt}"


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
