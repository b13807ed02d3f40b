"""Differential test of the Arrow shape clip against the per-row reference.

Spark-free: random polygons (with or without a hole, open or explicitly
closed, with or without a repeated vertex) and random lines, at zooms 0-12
and scales 1e-4 to 3 degrees, go through the production Arrow entry points
and through tiles.clip_reference_batch (the per-row loop behind
clip_shapes_reference). Routing follows the production zoom split: a zoom
where every vertex falls in one tile goes through clip_vec.fast_batch_arrow,
any other zoom through clip_vec.slow_batch_arrow. The rows must agree
exactly on (z, x, y, feature_id, ring list), the flat (geom, off) output
re-nested as tiles.NEST_GEOM_EXPR does.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from tile_gen_spark.functions import kernels as K
from tile_gen_spark.operators import clip_vec as CV
from tile_gen_spark.operators import tiles as T

EXTENT = K.MVT_EXTENT
COORDS = pa.list_(pa.list_(pa.float64()))
FAST_SCHEMA = pa.schema([("feature_id", pa.int64()), ("kind", pa.string()),
                         ("coords", COORDS), ("_zs", pa.list_(pa.int32()))])
SLOW_SCHEMA = pa.schema([("feature_id", pa.int64()), ("kind", pa.string()),
                         ("coords", COORDS), ("_z", pa.int32())])


def _ring(rng, n, cx, cy, radius):
    """Star-shaped ring around (cx, cy): angles jittered around an even
    spread (every gap < 180 degrees, so the center is inside)."""
    step = 2 * np.pi / n
    ang = np.arange(n) * step + rng.uniform(0, 0.5 * step, n)
    r = radius * rng.uniform(0.6, 1.0, n)
    return np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])


@st.composite
def shapes(draw):
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    kind = draw(st.sampled_from(["polygon", "line"]))
    scale = 10.0 ** draw(st.floats(-4.0, np.log10(3.0)))
    cx = draw(st.floats(-176.0, 176.0))
    cy = draw(st.floats(-81.0, 81.0))
    if kind == "polygon":
        n = draw(st.integers(4, 12))
        rings = [_ring(rng, n, cx, cy, scale)]
        if draw(st.booleans()):
            # hole well inside the exterior, wound the other way
            rings.append(_ring(rng, draw(st.integers(3, 8)), cx, cy,
                               0.25 * scale)[::-1])
        if draw(st.booleans()):
            rings = [np.vstack([r, r[:1]]) for r in rings]
    else:
        n = draw(st.integers(2, 10))
        rings = [np.cumsum(rng.uniform(-scale, scale, (n, 2)), axis=0)
                 + (cx, cy)]
    if draw(st.booleans()):
        r0 = rings[0]
        i = int(rng.integers(0, len(r0)))
        rings[0] = np.insert(r0, i, r0[i], axis=0)
    z = draw(st.integers(0, 12))
    return kind, [r.ravel().tolist() for r in rings], z


def _reference(kind, coords, z):
    b = pd.DataFrame({"feature_id": [7], "kind": [kind], "coords": [coords],
                      "props": [None], "_z": [z]})
    out = T.clip_reference_batch(b, EXTENT)
    return sorted((int(r.z), int(r.x), int(r.y), int(r.feature_id),
                   tuple(tuple(int(v) for v in ring) for ring in r.geom))
                  for r in out.itertuples())


def _nest(geom, off):
    """Flat (geom, off) transport → ring list (tiles.NEST_GEOM_EXPR in
    Python)."""
    if off is None:
        off = [0, len(geom)]
    return tuple(tuple(geom[a:b]) for a, b in zip(off[:-1], off[1:]))


def _production(kind, coords, z):
    allv = np.concatenate([np.reshape(c, (-1, 2)) for c in coords])
    tx, ty = K.point_to_tile(allv[:, 0], allv[:, 1], z)
    if tx.min() == tx.max() and ty.min() == ty.max():
        rb = pa.RecordBatch.from_pylist(
            [{"feature_id": 7, "kind": kind, "coords": coords, "_zs": [z]}],
            schema=FAST_SCHEMA)
        out = CV.fast_batch_arrow(rb, EXTENT)
    else:
        rb = pa.RecordBatch.from_pylist(
            [{"feature_id": 7, "kind": kind, "coords": coords, "_z": z}],
            schema=SLOW_SCHEMA)
        out = CV.slow_batch_arrow(rb, EXTENT)
    return sorted((r["z"], r["x"], r["y"], r["feature_id"],
                   _nest(r["geom"], r["off"]))
                  for b in out for r in b.to_pylist())


@settings(max_examples=600, deadline=None, derandomize=True, database=None)
@given(shapes())
def test_arrow_clip_matches_reference(shape):
    kind, coords, z = shape
    assert _production(kind, coords, z) == _reference(kind, coords, z)


@st.composite
def batches(draw):
    """1-8 shapes for one RecordBatch, each at 1-3 zooms."""
    out = []
    for _ in range(draw(st.integers(1, 8))):
        kind, coords, z = draw(shapes())
        zs = sorted({z, *draw(st.lists(st.integers(0, 12), max_size=2))})
        out.append((kind, coords, zs))
    return out


def _production_batch(rows):
    """Production routing over a multi-row batch: each feature's single-tile
    zooms ride one fast_batch_arrow row (its ``_zs`` list), every
    multi-tile zoom one slow_batch_arrow row, run under the default caps
    and under caps small enough to force the chunked and sparse routes."""
    fast, slow = [], []
    for fid, (kind, coords, zs) in enumerate(rows):
        allv = np.concatenate([np.reshape(c, (-1, 2)) for c in coords])
        single = []
        for z in zs:
            tx, ty = K.point_to_tile(allv[:, 0], allv[:, 1], z)
            if tx.min() == tx.max() and ty.min() == ty.max():
                single.append(z)
            else:
                slow.append({"feature_id": fid, "kind": kind,
                             "coords": coords, "_z": z})
        if single:
            fast.append({"feature_id": fid, "kind": kind, "coords": coords,
                         "_zs": single})
    fast_out = CV.fast_batch_arrow(
        pa.RecordBatch.from_pylist(fast, schema=FAST_SCHEMA), EXTENT)
    slow_rb = pa.RecordBatch.from_pylist(slow, schema=SLOW_SCHEMA)
    got = []
    for caps in ({}, {"cap": 2000, "gcap": 50}):
        out = fast_out + CV.slow_batch_arrow(slow_rb, EXTENT, **caps)
        got.append(sorted((r["z"], r["x"], r["y"], r["feature_id"],
                           _nest(r["geom"], r["off"]))
                          for b in out for r in b.to_pylist()))
    return got


@settings(max_examples=150, deadline=None, derandomize=True, database=None)
@given(batches())
def test_arrow_clip_multi_row_batches_match_reference(rows):
    b = pd.DataFrame([{"feature_id": fid, "kind": kind, "coords": coords,
                       "props": None, "_z": z}
                      for fid, (kind, coords, zs) in enumerate(rows)
                      for z in zs])
    want = sorted((int(r.z), int(r.x), int(r.y), int(r.feature_id),
                   tuple(tuple(int(v) for v in ring) for ring in r.geom))
                  for r in T.clip_reference_batch(b, EXTENT).itertuples())
    for got in _production_batch(rows):
        assert got == want
