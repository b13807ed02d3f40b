"""clip_vec.cover_rows, the one covering front-end, without Spark.

Multi-row batches of lines and polygons (holes included) at zooms 0-12 are
decoded the way the tile assignment and the multi-tile clip decode them and
covered in one cover_rows call; the (row, x, y) arrays must equal a per-row
K.polygon_covering_tiles / K.line_covering_tiles loop exactly, in the same
order. Caps: the defaults, and caps small enough to force several dense runs
and the per-row kernel route.
"""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from tile_gen_spark.functions import kernels as K
from tile_gen_spark.operators import clip_vec as CV

SCHEMA = pa.schema([("feature_id", pa.int64()), ("kind", pa.string()),
                    ("coords", pa.list_(pa.list_(pa.float64()))),
                    ("_z", pa.int32())])
CAPS = ({}, {"cap": 400, "gcap": 16}, {"cap": 1, "gcap": 1})


@st.composite
def rows(draw):
    """One (kind, rings, z) row: a star-shaped polygon with an optional
    hole and an optional exact closing vertex, or a random-walk line."""
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    kind = draw(st.sampled_from(["polygon", "line"]))
    scale = 10.0 ** draw(st.floats(-4.0, 1.0))
    cx, cy = draw(st.floats(-176.0, 176.0)), draw(st.floats(-81.0, 81.0))
    if kind == "polygon":
        n = draw(st.integers(3, 14))
        ang = np.arange(n) * 2 * np.pi / n + rng.uniform(0, np.pi / n, n)
        rad = scale * rng.uniform(0.3, 1.0, n)
        rings = [np.column_stack([cx + rad * np.cos(ang),
                                  cy + rad * np.sin(ang)])]
        if draw(st.booleans()):
            rings.append(rings[0][::-1] * 0.2 + np.array([cx, cy]) * 0.8)
        if draw(st.booleans()):
            rings = [np.vstack([r, r[:1]]) for r in rings]
    else:
        n = draw(st.integers(2, 10))
        rings = [np.cumsum(rng.uniform(-scale, scale, (n, 2)), axis=0)
                 + (cx, cy)]
    return kind, [r.ravel().tolist() for r in rings], draw(st.integers(0, 12))


def _reference(batch, strip):
    """Per-row kernel loop over ring 0 (exact closing vertex of a polygon
    stripped when ``strip``, as the clip's decode does)."""
    out = [], [], []
    for i, (kind, rings, z) in enumerate(batch):
        r = np.asarray(rings[0])
        if strip and kind == "polygon" and r.size >= 4 and (r[:2] == r[-2:]).all():
            r = r[:-2]
        cover = K.line_covering_tiles if kind == "line" else K.polygon_covering_tiles
        t = cover(r, z)
        for a, v in zip(out, (np.full(t.shape[0], i), t[:, 0], t[:, 1])):
            a.append(v)
    return [np.concatenate(a).astype(np.int64) for a in out]


@settings(max_examples=150, deadline=None, derandomize=True, database=None)
@given(st.lists(rows(), min_size=1, max_size=8))
def test_cover_rows_matches_kernel_loop(batch):
    rb = pa.RecordBatch.from_pylist(
        [{"feature_id": i, "kind": k, "coords": c, "_z": z}
         for i, (k, c, z) in enumerate(batch)], schema=SCHEMA)
    zs = np.array([z for _, _, z in batch], np.int64)
    for strip in (False, True):
        is_line, ring_len, ring_start, verts, _, first = CV.decode_clip_rings(
            rb, strip=strip)
        r0 = first[:-1]
        want = _reference(batch, strip)
        for caps in CAPS:
            got = CV.cover_rows(zs, verts, ring_start[r0], ring_len[r0],
                                is_line, **caps)
            for g, w in zip(got, want):
                assert g.dtype == np.int64
                assert np.array_equal(g, w), (strip, caps)


def test_clip_row_over_work_budget_takes_kernel_route(monkeypatch):
    # the multi-tile clip routes like the PIP zones: a 2,000-vertex polygon
    # with a 4,554-cell z12 grid is under GRID_CAP, but its grid x vertex
    # weight (9.1M) is over SLOW_CAP, so the dense pass must not see it
    t = np.linspace(0.0, 2.0 * np.pi, 2000, endpoint=False)
    big = np.column_stack([10.0 + 3.0 * np.cos(t),
                           45.0 + 2.0 * np.sin(t)]).ravel().tolist()
    small = [10.0, 45.0, 10.6, 45.05, 10.7, 45.4, 10.05, 45.5]
    rb = pa.RecordBatch.from_pylist(
        [{"feature_id": i, "kind": "polygon", "coords": [c], "_z": 12}
         for i, c in enumerate([small, big, small])], schema=SCHEMA)
    dense_rows = []
    dense = CV._dense_cover

    def spy(zs, *args):
        dense_rows.append(zs.size)
        return dense(zs, *args)

    monkeypatch.setattr(CV, "_dense_cover", spy)
    out = CV.slow_batch_arrow(rb, K.MVT_EXTENT)
    assert dense_rows == [1, 1]
    got = {(r["x"], r["y"]) for b in out for r in b.to_pylist()
           if r["feature_id"] == 1}
    want = {(int(x), int(y)) for x, y in K.polygon_covering_tiles(big, 12)}
    assert got <= want and len(got) > 0.99 * len(want)
