"""Relational pip_join against the numpy even-odd kernel on drawn zones.

Hypothesis draws a few zones — axis-aligned rectangles and small polygons
with vertices on a 2.5° lattice or anywhere — and probes each with points on
its vertices, on its edges, beyond the Mercator latitude clamp (±85.0511°,
where the point buckets clamp to the top or bottom tile row) and on the
±180° meridians. The exact pairs of pip_join, with the zone side under and
over the broadcast cutoff (broadcast and shuffle joins), must equal
kernels.points_in_ring per zone.
"""

import contextlib

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from tests.test_pipeline import over_broadcast_cutoff
from tile_gen_spark.functions import kernels as K
from tile_gen_spark.operators.spatial_join import pip_join

_LON = [-180.0 + 2.5 * i for i in range(145)]
_LAT = [-90.0 + 2.5 * i for i in range(73)]


def _coord(lattice, lo, hi):
    return st.one_of(st.sampled_from(lattice),
                     st.floats(lo, hi, allow_nan=False, allow_infinity=False))


lons = _coord(_LON, -180.0, 180.0)
lats = _coord(_LAT, -90.0, 90.0)
offsets = _coord([2.5 * i for i in range(-8, 9)], -20.0, 20.0)


@st.composite
def rect(draw):
    x0, x1 = sorted(draw(st.lists(lons, min_size=2, max_size=2, unique=True)))
    y0, y1 = sorted(draw(st.lists(lats, min_size=2, max_size=2, unique=True)))
    return [x0, y0, x1, y0, x1, y1, x0, y1]


@st.composite
def polygon(draw):
    """3–7 vertices within a 40° box: convex, concave or self-crossing —
    the kernel and the join share the even-odd rule either way."""
    cx, cy = draw(lons), draw(lats)
    n = draw(st.integers(3, 7))
    ring = []
    for _ in range(n):
        ring += [float(np.clip(cx + draw(offsets), -180.0, 180.0)),
                 float(np.clip(cy + draw(offsets), -90.0, 90.0))]
    return ring


@st.composite
def cases(draw):
    rings = draw(st.lists(st.one_of(rect(), polygon()), min_size=1, max_size=3))
    pts = []
    for ring in rings:
        r = np.asarray(ring).reshape(-1, 2)
        nxt = np.roll(r, -1, axis=0)
        pts += r.tolist()                              # on a vertex
        pts += ((r + nxt) / 2).tolist()                # on an edge (lattice)
        pts += (r + (nxt - r) / 4).tolist()
        (w, s), (e, n) = r.min(axis=0), r.max(axis=0)
        for _ in range(draw(st.integers(0, 6))):
            pts.append([draw(st.floats(w, e)), draw(st.floats(s, n))])
        # beyond the latitude clamp, and on the ±180° meridians
        pts += [[x, y] for x in (w, (w + e) / 2, e) for y in (-90.0, -87.5, 87.5, 90.0)]
        pts += [[x, y] for x in (-180.0, 180.0) for y in (s, (s + n) / 2, n)]
    return rings, pts, draw(st.sampled_from([2, 4, 6])), draw(st.booleans())


# a zone reaching past the clamp only in its west arm: points far east in
# its northern bar bucket to the top row, which its clamped edges never touch
_POLAR_L = [0.0, 80.0, 2.5, 80.0, 2.5, 87.5, 40.0, 87.5, 40.0, 90.0, 0.0, 90.0]


@settings(max_examples=25, deadline=None, derandomize=True, database=None)
@given(cases())
@example(([_POLAR_L], [[30.0, 88.0], [1.0, 84.0], [20.0, 90.0]], 4, True))
@example(([[170.0, -10.0, 180.0, -10.0, 180.0, 10.0, 170.0, 10.0],
           [-180.0, -10.0, -170.0, -10.0, -170.0, 10.0, -180.0, 10.0]],
          [[180.0, 0.0], [-180.0, 0.0], [180.0, 10.0], [-175.0, -10.0]],
          6, False))
def test_pip_join_matches_kernel(spark, case):
    rings, pts, res, broadcast = case
    pts = np.asarray(pts, dtype=np.float64)
    zones = spark.createDataFrame(
        pd.DataFrame({"zone_id": np.arange(len(rings), dtype=np.int64),
                      "ring": rings}),
        "zone_id bigint, ring array<double>")
    points = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(len(pts), dtype=np.int64),
                      "lon": pts[:, 0], "lat": pts[:, 1]}),
        "point_id bigint, lon double, lat double")
    # broadcast=False: both dim-side joins over the broadcast cutoff
    with (contextlib.nullcontext() if broadcast
          else over_broadcast_cutoff(spark)):
        got = {(r["point_id"], r["zone_id"])
               for r in pip_join(points, zones, res=res).collect()}
    want = {(int(p), zid) for zid, ring in enumerate(rings)
            for p in np.nonzero(K.points_in_ring(pts[:, 0], pts[:, 1], ring))[0]}
    assert got == want, (sorted(want - got)[:5], sorted(got - want)[:5])
