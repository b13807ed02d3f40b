"""PIP zone covering (spatial_join.zone_cover_batch), without Spark.

Each Arrow batch of zones is covered by clip_vec.cover_rows: runs of zones
in one vectorized dense pass (clip_vec._dense_cover); bbox-sparse zones and
zones over the work budget one at a time through the kernel. The rows must equal the per-zone reference —
K.polygon_covering_tiles plus the zone's ±_BBOX_EPS bbox — bit for bit and
in the same order.
"""

import numpy as np
import pyarrow as pa
import pytest

import tile_gen_spark.functions.kernels as K
from tile_gen_spark.operators import spatial_join as SJ
from tile_gen_spark.operators import clip_vec as CV
from tile_gen_spark.sources.synth import _zone_batch

COLS = ("zone_id", "qb", "bminx", "bmaxx", "bminy", "bmaxy")
GCAP = 65536
CAP = 8_000_000


def _reference(ids, rings, res, gcap):
    out = {k: [] for k in COLS}
    for zid, ring in zip(ids, rings):
        r = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
        tiles = K.polygon_covering_tiles(r.ravel(), res, cap=gcap)
        n = tiles.shape[0]
        out["zone_id"] += [int(zid)] * n
        out["qb"] += (tiles[:, 0] * (1 << res) + tiles[:, 1]).tolist()
        out["bminx"] += [float(r[:, 0].min()) - SJ._BBOX_EPS] * n
        out["bmaxx"] += [float(r[:, 0].max()) + SJ._BBOX_EPS] * n
        out["bminy"] += [float(r[:, 1].min()) - SJ._BBOX_EPS] * n
        out["bmaxy"] += [float(r[:, 1].max()) + SJ._BBOX_EPS] * n
    return {"zone_id": np.asarray(out["zone_id"], np.int64),
            "qb": np.asarray(out["qb"], np.int64),
            **{k: np.asarray(out[k], np.float64) for k in COLS[2:]}}


def _batch(ids, rings):
    return pa.RecordBatch.from_arrays(
        [pa.array(np.asarray(ids, np.int64)),
         pa.array([list(map(float, r)) for r in rings], pa.list_(pa.float64()))],
        names=["zone_id", "ring"])


def _assert_bit_identical(ids, rings, res, gcap=GCAP, cap=CAP):
    got = SJ.zone_cover_batch(_batch(ids, rings), res, gcap, cap)
    want = _reference(ids, rings, res, gcap)
    assert got.schema.names == list(COLS)
    for k in COLS:
        g = got.column(k).to_numpy()
        assert g.dtype == want[k].dtype, k
        assert np.array_equal(g.view(np.int64), want[k].view(np.int64)), k
    return got.num_rows


@pytest.mark.parametrize("res,rows", [(6, 4588), (10, 15042), (12, 86230)])
def test_synth_zones_match_kernel(res, rows):
    b = _zone_batch(np.arange(4000), 1, radius_scale=0.1, nv_extra=40)
    assert _assert_bit_identical(b["zone_id"], b["ring"], res) == rows


def test_synth_zones_chunked_and_sparse_match_kernel():
    b = _zone_batch(np.arange(300), 3, nv_extra=40)
    ids, rings = b["zone_id"], b["ring"]
    # small work budget: ~110 dense chunks, 14 over-budget zones alone
    assert _assert_bit_identical(ids, rings, 10, cap=20000) > 0
    # tiny grid cap: the multi-tile zones take the sparse walk, single-tile
    # zones stay dense, and the rows come back interleaved in zone order
    assert _assert_bit_identical(ids, rings, 10, gcap=2) > 0


# 7-vertex concave ring spanning a few z10 tiles around (10.3, 45.2)
_OPEN = [10.0, 45.0, 10.6, 45.05, 10.7, 45.4, 10.35, 45.2,
         10.3, 45.55, 10.05, 45.5, 9.95, 45.25]


@pytest.mark.parametrize("ring", [
    _OPEN,
    _OPEN + _OPEN[:2],                                  # exactly closed
    _OPEN + [_OPEN[0] + 4e-9, _OPEN[1] - 4e-9] + _OPEN[:2],
    _OPEN[:6] + _OPEN[4:6] + _OPEN[6:],                 # zero-length edge
], ids=["open", "closed", "closed_near_dup_last", "repeated_vertex"])
@pytest.mark.parametrize("res", [8, 10, 12])
def test_ring_forms_match_kernel(ring, res):
    assert _assert_bit_identical([7], [ring], res) > 0


def _grid_cells(ring, z):
    r = np.asarray(ring)
    tx, ty = K.point_to_tile(r[0::2], r[1::2], z)
    return (np.ptp(tx) + 1) * (np.ptp(ty) + 1)


def test_zone_over_grid_cap_takes_sparse_route():
    b = _zone_batch(np.arange(40), 5, radius_scale=0.1, nv_extra=40)
    big = [c0 + 5.0 * (c - c0) for c, c0 in zip(_OPEN, [10.0, 45.0] * 7)]
    ids = list(b["zone_id"]) + [99]
    rings = list(b["ring"]) + [big]
    gcap = max(_grid_cells(r, 12) for r in rings[:-1])
    assert _grid_cells(big, 12) > gcap     # only the last zone goes sparse
    assert _assert_bit_identical(ids, rings, 12, gcap=gcap) > 0


def test_zone_over_work_budget_takes_kernel_route(monkeypatch):
    # a 2,000-vertex zone with a 4,554-cell z12 grid: under GRID_CAP, but its
    # grid x vertex weight (9.1M) is over the 8M budget, so the dense pass
    # (O(cells x vertices) work arrays) must not see it
    t = np.linspace(0.0, 2.0 * np.pi, 2000, endpoint=False)
    big = np.column_stack([10.0 + 3.0 * np.cos(t),
                           45.0 + 2.0 * np.sin(t)]).ravel().tolist()
    assert _grid_cells(big, 12) < GCAP
    dense_zones = []

    dense = CV._dense_cover

    def spy(zs, *args):
        dense_zones.append(zs.size)
        return dense(zs, *args)

    monkeypatch.setattr(CV, "_dense_cover", spy)
    ids, rings = [1, 2, 3], [_OPEN, big, _OPEN]
    assert _assert_bit_identical(ids, rings, 12) > 0
    assert dense_zones == [1, 1]


def test_empty_batch():
    got = SJ.zone_cover_batch(_batch([], []), 10, GCAP, CAP)
    assert got.num_rows == 0
    assert got.schema.names == list(COLS)
    assert str(got.schema.field("qb").type) == "int64"


def test_odd_coordinate_count_is_rejected():
    with pytest.raises(ValueError, match="odd number"):
        SJ.zone_cover_batch(_batch([1, 2], [_OPEN, _OPEN[:-1]]), 10, GCAP, CAP)


@pytest.mark.parametrize("lat0,lat1,row", [(86.0, 88.0, 0), (-89.0, -86.0, 3)])
def test_zone_past_clamp_covers_clamped_row(lat0, lat1, row):
    # a zone wholly outside the Mercator band: its points bucket into the
    # clamped row at their own column, which no tile bbox of the band
    # reaches — the covering keeps every column of the zone in that row
    ring = [-180.0, lat0, 0.0, lat0, 0.0, lat1, -180.0, lat1]
    got = SJ.zone_cover_batch(_batch([1], [ring]), 2, GCAP, CAP)
    kernel = K.polygon_covering_tiles(np.asarray(ring), 2)
    assert kernel.shape[0] == 2                   # its two vertex tiles only
    assert got.column("qb").to_pylist() == [x * 4 + row for x in (0, 1, 2)]
