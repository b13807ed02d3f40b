"""Sparse covering path (r4 VERDICT "What's wrong #1" / "Next round #1").

The covering kernels' dense candidate grid is O(bbox area): a
continent-spanning diagonal linestring at z12 has a ~16.7M-cell bbox grid
(six float64 arrays ≈ 800 MB) for O(10^3) actually-covered tiles — a
worker-OOM at scale. Above K.GRID_CAP cells the kernels now switch to
a per-segment column walk producing O(covered) candidates, re-apply the
SAME exact covering tests, and (polygons) scanline-fill interior runs.

These tests pin (a) bit-identical covering output sparse-vs-dense on
dense-feasible cases, including through the batched slow_batch_arrow path, and
(b) bounded peak allocation on the z12 worst cases.
"""

import tracemalloc

import numpy as np
import pyarrow as pa

import tile_gen_spark.functions.kernels as K
import tile_gen_spark.operators.clip_vec as CV

DENSE = 100_000_000   # cap high => always dense
SPARSE = 1            # cap low  => always sparse


def _sorted(t: np.ndarray) -> np.ndarray:
    return t[np.lexsort((t[:, 0], t[:, 1]))]


def _rand_ring(rng, scale):
    n = int(rng.integers(3, 40))
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(0.2, 1.0, n) * scale
    lon = np.clip(rng.uniform(-170, 170) + rad * np.cos(ang), -179.9, 179.9)
    lat = np.clip(rng.uniform(-80, 80) + rad * np.sin(ang), -84.0, 84.0)
    return np.column_stack([lon, lat])


def test_sparse_equals_dense_fuzz():
    """Random polygons/lines, z3–z10: sparse output == dense output exactly
    (same tiles, same raster order)."""
    rng = np.random.default_rng(1234)
    for _ in range(40):
        ring = _rand_ring(rng, float(rng.uniform(0.1, 30.0)))
        z = int(rng.integers(3, 11))
        dp = K.polygon_covering_tiles(ring, z, cap=DENSE)
        dl = K.line_covering_tiles(ring, z, cap=DENSE)
        sp = K.polygon_covering_tiles(ring, z, cap=SPARSE)
        sl = K.line_covering_tiles(ring, z, cap=SPARSE)
        assert np.array_equal(_sorted(dp), _sorted(sp))
        assert np.array_equal(_sorted(dl), _sorted(sl))
        # sparse emits the dense grid's raster order directly
        assert np.array_equal(sp, _sorted(sp))
        assert np.array_equal(sl, _sorted(sl))


def test_sparse_polygon_with_hole_and_concave():
    """Concave ring (interior-run fill must flip in/out mid-row)."""
    # star polygon: alternating radii => many concave notches
    ang = np.linspace(0, 2 * np.pi, 20, endpoint=False)
    rad = np.where(np.arange(20) % 2 == 0, 25.0, 8.0)
    ring = np.column_stack([rad * np.cos(ang), rad * np.sin(ang) + 5])
    for z in (5, 6, 7, 8):
        d = K.polygon_covering_tiles(ring, z, cap=DENSE)
        s = K.polygon_covering_tiles(ring, z, cap=SPARSE)
        assert np.array_equal(_sorted(d), _sorted(s))


def test_antimeridian_diagonal_line_z12_bounded():
    """The r4 VERDICT scale-killer: antimeridian-to-antimeridian diagonal at
    z12. Dense grid would be ~16.7M cells (~800 MB of float64 bounds);
    the sparse walk must stay under 32 MB peak and O(covered) output."""
    line = np.array([[-179.9, -80.0], [179.9, 80.0]])
    tracemalloc.start()
    tiles = K.line_covering_tiles(line, 12)   # production default cap
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 32 * 1024 * 1024
    # a thin diagonal covers O(max(nx, ny)) tiles with a small band factor
    assert 4000 <= tiles.shape[0] <= 20000
    # endpoints' tiles are covered
    tx, ty = K.point_to_tile(line[:, 0], line[:, 1], 12)
    have = set(map(tuple, tiles))
    assert (tx[0], ty[0]) in have and (tx[1], ty[1]) in have


def test_continent_polygon_z12_bounded():
    """Continent-sized ellipse at z12: covering is ~1M tiles (real output),
    peak allocation must be O(covered), not O(bbox grid)."""
    ang = np.linspace(0, 2 * np.pi, 200, endpoint=False)
    ring = np.column_stack([60 * np.cos(ang), 40 * np.sin(ang) + 10])
    tracemalloc.start()
    tiles = K.polygon_covering_tiles(ring, 12)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 256 * 1024 * 1024          # dense grid alone would be ~2 GB
    assert tiles.shape[0] > 500_000          # interior fill ran
    key = tiles[:, 1] * (1 << 13) + tiles[:, 0]
    assert np.unique(key).size == tiles.shape[0]
    # spot-check: center tile covered, far corner of bbox not
    ctx, cty = K.point_to_tile(np.array([0.0]), np.array([10.0]), 12)
    assert (ctx[0], cty[0]) in set(map(tuple, tiles[:: max(1, len(tiles) // 200000)])) or \
        bool(np.any((tiles[:, 0] == ctx[0]) & (tiles[:, 1] == cty[0])))


def test_slow_batch_sparse_routing_matches_dense():
    """slow_batch_arrow routes oversized-grid rows to the sparse per-row
    core; output must be row-for-row identical to the dense core (including
    tile-chunked)."""
    rng = np.random.default_rng(7)
    ang = np.linspace(0, 2 * np.pi, 30, endpoint=False)
    lv = np.column_stack([np.linspace(-100, 60, 15),
                          np.linspace(-40, 55, 15) + rng.uniform(-2, 2, 15)])
    ext = np.column_stack([50 * np.cos(ang) + 5, 30 * np.sin(ang) + 10])
    hole = np.column_stack([10 * np.cos(ang) + 5, 8 * np.sin(ang) + 10])[::-1]
    small = np.column_stack([2 * np.cos(ang), 2 * np.sin(ang) - 20])
    rows = [
        dict(feature_id=1, kind="line", coords=[lv.ravel().tolist()], _z=6),
        dict(feature_id=2, kind="polygon",
             coords=[ext.ravel().tolist(), hole.ravel().tolist()], _z=6),
        dict(feature_id=3, kind="polygon", coords=[small.ravel().tolist()], _z=6),
    ]
    rb = pa.RecordBatch.from_pylist(rows, schema=pa.schema([
        ("feature_id", pa.int64()), ("kind", pa.string()),
        ("coords", pa.list_(pa.list_(pa.float64()))), ("_z", pa.int32())]))

    def canon(batches):
        return sorted(
            (r["z"], r["x"], r["y"], r["feature_id"], tuple(r["geom"]),
             None if r["off"] is None else tuple(r["off"]))
            for b in batches for r in b.to_pylist())

    dense = canon(CV.slow_batch_arrow(rb, 4096, gcap=DENSE))
    sparse = canon(CV.slow_batch_arrow(rb, 4096, gcap=50))
    chunked = canon(CV.slow_batch_arrow(rb, 4096, cap=2000, gcap=50))
    assert len(dense) > 0
    assert dense == sparse
    assert dense == chunked


def test_grid_cap_default():
    assert K.GRID_CAP == 65536


def test_covering_runs_vectorized_parity():
    """r6: _covering_runs was rewritten from a per-row Python loop to a
    sentinel-sort vectorized form (VERDICT r5 #3). Pin exact parity against
    a reference implementation of the original loop on 300 random grids,
    including empty-candidate and full-row-candidate edge cases."""
    def reference(cx, cy, x0, x1, y0, y1):
        ry, rxa, rxb = [], [], []
        ptr, n = 0, cx.size
        for y in range(y0, y1 + 1):
            prev = x0 - 1
            while ptr < n and cy[ptr] == y:
                xc = int(cx[ptr])
                if xc > prev + 1:
                    ry.append(y); rxa.append(prev + 1); rxb.append(xc - 1)
                prev = xc
                ptr += 1
            if x1 > prev:
                ry.append(y); rxa.append(prev + 1); rxb.append(x1)
        return (np.asarray(ry, np.int64), np.asarray(rxa, np.int64),
                np.asarray(rxb, np.int64))

    rng = np.random.default_rng(7)
    for trial in range(300):
        y0, y1 = sorted(int(v) for v in rng.integers(0, 50, 2))
        x0, x1 = sorted(int(v) for v in rng.integers(0, 50, 2))
        k = int(rng.integers(0, 40))
        ys = rng.integers(y0, y1 + 1, k)
        xs = rng.integers(x0, x1 + 1, k)
        _, idx = np.unique(ys * 1000 + xs, return_index=True)
        cy, cx = ys[idx].astype(np.int64), xs[idx].astype(np.int64)
        o = np.lexsort((cx, cy))
        cy, cx = cy[o], cx[o]
        a = reference(cx, cy, x0, x1, y0, y1)
        b = K._covering_runs(cx, cy, x0, x1, y0, y1)
        for u, v in zip(a, b):
            assert np.array_equal(u, v), (trial, a, b)
