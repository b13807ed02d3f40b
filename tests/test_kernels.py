"""Kernel unit tests against published worked examples (SURVEY.md §5.1).

No Spark involved — pure numpy. Worked examples come from the public
definitions: OSM slippy-map tilename examples, Bing quadkey docs, hand
Sutherland–Hodgman cases, haversine city distances.
"""

import numpy as np
import pytest

from tile_gen_spark.functions import kernels as K
from tile_gen_spark.functions import cells as C


def test_point_to_tile_osm_example():
    # Brandenburg Gate (13.377704, 52.516275) @ z=17 → (70406, 42987)
    x, y = K.point_to_tile(np.array([13.377704]), np.array([52.516275]), 17)
    assert (int(x[0]), int(y[0])) == (70406, 42987)
    # cross-check the ln(tan+sec) form against the asinh form on a sweep
    lats = np.linspace(-84.9, 84.9, 500)
    lons = np.linspace(-179.9, 179.9, 500)
    for z in (4, 12):
        x1, y1 = K.point_to_tile(lons, lats, z)
        n = 1 << z
        y2 = np.floor((1 - np.arcsinh(np.tan(np.radians(lats))) / np.pi) / 2 * n).astype(np.int64)
        assert np.array_equal(y1, np.clip(y2, 0, n - 1))


def test_point_to_tile_origin_and_edges():
    x, y = K.point_to_tile(np.array([0.0]), np.array([0.0]), 1)
    assert (int(x[0]), int(y[0])) == (1, 1)  # 0,0 falls in SE tile at z=1
    # clamping at the poles / antimeridian
    x, y = K.point_to_tile(np.array([180.0, -180.0]), np.array([89.0, -89.0]), 3)
    assert x.max() <= 7 and x.min() >= 0 and y.max() <= 7 and y.min() >= 0


def test_tile_bounds_roundtrip():
    rng = np.random.RandomState(7)
    lon = rng.uniform(-179, 179, 200)
    lat = rng.uniform(-84, 84, 200)
    for z in (0, 3, 8, 12):
        x, y = K.point_to_tile(lon, lat, z)
        w, s, e, n = K.tile_bounds(np.full_like(x, z), x, y)
        assert np.all(lon >= w - 1e-9) and np.all(lon <= e + 1e-9)
        assert np.all(lat >= s - 1e-9) and np.all(lat <= n + 1e-9)
        # re-tile the bbox center → same tile
        x2, y2 = K.point_to_tile((w + e) / 2, (s + n) / 2, z)
        assert np.array_equal(x, x2) and np.array_equal(y, y2)


def test_quadkey_bing_example():
    # Bing docs: tile (3, 5) at level 3 → "213"
    qk = K.quadkey_encode(np.array([3]), np.array([5]), 3)
    assert qk[0] == "213"
    assert K.quadkey_decode("213") == (3, 3, 5)


def test_quadkey_roundtrip_and_prefix():
    rng = np.random.RandomState(3)
    for z in (1, 5, 12):
        x = rng.randint(0, 2 ** z, 50)
        y = rng.randint(0, 2 ** z, 50)
        qks = K.quadkey_encode(x, y, z)
        for xi, yi, q in zip(x, y, qks):
            assert K.quadkey_decode(q) == (z, xi, yi)
            # parent = prefix
            zz, px, py = K.quadkey_decode(q[:-1])
            assert (px, py) == (xi >> 1, yi >> 1)


def test_point_in_ring_square():
    sq = np.array([0, 0, 4, 0, 4, 4, 0, 4], dtype=float)
    px = np.array([2.0, 5.0, 4.0, 0.0, -1.0, 2.0])
    py = np.array([2.0, 2.0, 2.0, 0.0, -1.0, 4.0])
    got = K.points_in_ring(px, py, sq)
    # interior, outside, on right edge (inside by rule), corner, outside, top edge
    assert got.tolist() == [True, False, True, True, False, True]


def test_point_in_polygon_with_hole():
    outer = np.array([0, 0, 10, 0, 10, 10, 0, 10], dtype=float)
    hole = np.array([4, 4, 6, 4, 6, 6, 4, 6], dtype=float)
    px = np.array([5.0, 2.0, 11.0])
    py = np.array([5.0, 2.0, 5.0])
    got = K.points_in_polygon(px, py, [outer, hole])
    assert got.tolist() == [False, True, False]


def test_clip_ring_sutherland_hodgman():
    # square half-overlapping the clip window
    ring = np.array([-2, -2, 2, -2, 2, 2, -2, 2], dtype=float)
    out = K.clip_ring_bbox(ring, 0, 0, 4, 4)
    assert out.shape[0] == 4
    assert K.ring_signed_area(out) == pytest.approx(4.0)
    assert out.min() >= 0 and out.max() <= 2
    # fully inside: unchanged vertex set
    inner = np.array([1, 1, 2, 1, 2, 2], dtype=float)
    out2 = K.clip_ring_bbox(inner, 0, 0, 4, 4)
    assert abs(K.ring_signed_area(out2)) == pytest.approx(0.5)
    # fully outside: empty
    out3 = K.clip_ring_bbox(ring, 10, 10, 20, 20)
    assert out3.shape[0] == 0


def test_clip_containment_property():
    rng = np.random.RandomState(11)
    for _ in range(50):
        pts = rng.uniform(-5, 5, (6, 2))
        out = K.clip_ring_bbox(pts, -1, -1, 1, 1)
        if out.size:
            assert out[:, 0].min() >= -1 - 1e-9 and out[:, 0].max() <= 1 + 1e-9
            assert out[:, 1].min() >= -1 - 1e-9 and out[:, 1].max() <= 1 + 1e-9


def test_clip_segments():
    line = np.array([[-2, 0.5], [2, 0.5], [2, 5]], dtype=float)
    pieces = K.clip_segments_bbox(line, 0, 0, 1, 1)
    assert len(pieces) == 1
    p = pieces[0]
    assert p[0].tolist() == [0, 0.5] and p[-1].tolist() == [1, 0.5]


def test_haversine_known_distance():
    # Paris (2.3522, 48.8566) ↔ London (-0.1276, 51.5072) ≈ 343.5 km
    d = K.haversine_m(2.3522, 48.8566, -0.1276, 51.5072)
    assert 341_000 < float(d) < 346_000
    assert float(K.haversine_m(10, 20, 10, 20)) == 0.0


def test_quantize_and_dedupe():
    # tile z=0 covers the world; quantize corners
    qx, qy = K.quantize_to_tile(np.array([-180.0, 180.0]), np.array([0.0, 0.0]), 0, 0, 0)
    assert qx.tolist() == [0, 4096]
    qx2, qy2 = K.dedupe_consecutive(np.array([1, 1, 2, 2, 3]), np.array([1, 1, 2, 2, 3]))
    assert qx2.tolist() == [1, 2, 3]


def test_shoelace_and_winding():
    ccw = np.array([0, 0, 2, 0, 2, 2, 0, 2], dtype=float)
    assert K.ring_signed_area(ccw) == pytest.approx(4.0)


def test_polygon_covering_tiles():
    # small square around (0,0) at z=2 touches the 4 central tiles
    ring = np.array([-1, -1, 1, -1, 1, 1, -1, 1], dtype=float)
    tiles = K.polygon_covering_tiles(ring, 2)
    got = {tuple(t) for t in tiles}
    assert got == {(1, 1), (2, 1), (1, 2), (2, 2)}
    # big polygon spanning a tile entirely: that tile must still be covered
    big = np.array([-100, -60, 100, -60, 100, 60, -100, 60], dtype=float)
    tiles2 = {tuple(t) for t in K.polygon_covering_tiles(big, 3)}
    assert (4, 4) in tiles2 and (3, 3) in tiles2


def test_rasterize_vectorize_roundtrip():
    ring = [np.array([2, 2, 12, 2, 12, 12, 2, 12], dtype=float)]
    grid = K.rasterize_rings(ring, 0, 0, 16, 16, width=16, height=16)
    # interior cells are 1: rows 4..13 approx (y inverted); mass ≈ 100 cells
    assert 80 <= grid.sum() <= 110
    rings = K.vectorize_grid(grid)
    assert len(rings) >= 1
    # exact round-trip: re-rasterizing the traced boundary reproduces the grid
    grid2 = K.rasterize_rings([r.ravel() for r in rings], 0, 0, 16, 16, width=16, height=16)
    assert np.array_equal(grid2, grid)
    # and a grid with a hole round-trips too
    hole_grid = grid.copy()
    hole_grid[6:10, 6:10] = 0.0
    rings3 = K.vectorize_grid(hole_grid)
    assert len(rings3) >= 2
    grid3 = K.rasterize_rings([r.ravel() for r in rings3], 0, 0, 16, 16, width=16, height=16)
    assert np.array_equal(grid3, hole_grid)


def test_hex_cell_determinism_and_kring():
    lon = np.array([2.35, -74.0, 139.69])
    lat = np.array([48.85, 40.71, 35.69])
    c1 = C.hex_cell(lon, lat, 6)
    c2 = C.hex_cell(lon, lat, 6)
    assert np.array_equal(c1, c2)
    res, q, r = C.unpack_hex(c1)
    assert np.all(res == 6)
    assert np.array_equal(C.pack_hex(res, q, r), c1)
    # kring size 1+3k(k+1)
    for k in (1, 2, 3):
        ring = C.hex_kring(c1, k)
        assert ring.shape == (3, 1 + 3 * k * (k + 1))
        assert len(np.unique(ring[0])) == ring.shape[1]
        assert c1[0] in ring[0]
    # center of a cell maps back to the same cell
    clon, clat = C.hex_center(c1)
    assert np.array_equal(C.hex_cell(clon, clat, 6), c1)


def test_hex_neighbors_are_close():
    c = C.hex_cell(np.array([10.0]), np.array([50.0]), 7)
    ring = C.hex_kring(c, 1)[0]
    lons, lats = C.hex_center(ring)
    d = K.haversine_m(lons, lats, *C.hex_center(c))
    size = C.HEX_RES_M[7]
    assert float(np.max(d)) < 4 * size  # neighbors within a few cell sizes


def test_s2_hierarchy():
    lon = np.array([2.35, -74.0, 139.69, 0.0])
    lat = np.array([48.85, 40.71, 35.69, 0.0])
    c30 = C.s2_cell(lon, lat, 30)
    c10 = C.s2_cell(lon, lat, 10)
    assert np.array_equal(C.s2_parent(c30, 30, 10), c10)
    lo, hi = C.s2_children_range(c10, 10, 30)
    assert np.all((c30 >= lo) & (c30 < hi))
    # determinism + locality: nearby points at fine level share coarse parent
    c_a = C.s2_cell(np.array([10.0001]), np.array([50.0001]), 8)
    c_b = C.s2_cell(np.array([10.0002]), np.array([50.0002]), 8)
    assert c_a[0] == c_b[0]


def test_splitmix_partition_invariance():
    idx = np.arange(1000, dtype=np.uint64)
    a = K.h64(idx, seed=42)
    b = np.concatenate([K.h64(idx[:500], seed=42), K.h64(idx[500:], seed=42)])
    assert np.array_equal(a, b)
    u = K.hu(idx, seed=42)
    assert 0.0 <= u.min() and u.max() < 1.0 and abs(u.mean() - 0.5) < 0.05


def test_clip_fast_matches_numpy():
    rng = np.random.RandomState(5)
    for _ in range(200):
        nv = rng.randint(3, 9)
        pts = rng.uniform(-4, 4, (nv, 2))
        a = K.clip_ring_bbox(pts, -1, -1, 1, 1)
        b = K.clip_ring_bbox_fast([tuple(v) for v in pts], -1, -1, 1, 1)
        assert a.shape[0] == len(b)
        if len(b):
            assert np.allclose(a, np.asarray(b), atol=0, rtol=0)


def test_hilbert_sql_matches_kernel():
    """sqlgen.hilbert_ctes (the cross-engine S2 oracle text) == the numpy
    kernel _hilbert_d on the full order-6 grid, run on DuckDB; and the
    level-30 kernel id shifted right 2*24 == the level-6 id computed from
    the floored coords (the prefix property the oracle relies on)."""
    import duckdb
    import numpy as np
    from tile_gen_spark.functions import cells as C
    from tile_gen_spark.plans import sqlgen as S

    # full 64x64 grid at order 6
    ix, iy = np.meshgrid(np.arange(64), np.arange(64))
    ix, iy = ix.ravel().astype(np.int64), iy.ravel().astype(np.int64)
    want = C._hilbert_d(ix, iy, 6)
    con = duckdb.connect()
    con.register("grid", __import__("pandas").DataFrame({"gx": ix, "gy": iy}))
    ctes, last = S.hilbert_ctes("grid", "gx, gy", "gx", "gy", 6)
    got = con.sql(f"WITH {ctes} SELECT gx, gy, hd FROM {last}").df()
    got_d = {(r.gx, r.gy): r.hd for r in got.itertuples()}
    assert all(got_d[(int(x), int(y))] == int(d)
               for x, y, d in zip(ix, iy, want))

    # prefix property: level-30 Hilbert >> 48 == level-6 Hilbert of ix>>24
    rng = np.random.default_rng(7)
    ix30 = rng.integers(0, 1 << 30, 500, dtype=np.int64)
    iy30 = rng.integers(0, 1 << 30, 500, dtype=np.int64)
    d30 = C._hilbert_d(ix30, iy30, 30)
    d6 = C._hilbert_d(ix30 >> 24, iy30 >> 24, 6)
    assert np.array_equal(d30 >> 48, d6)
