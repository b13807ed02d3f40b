"""Batched (ragged-numpy) clip vs the reference kernels — pure numpy."""

import numpy as np
import pyarrow as pa

from tile_gen_spark.functions import kernels as K
from tile_gen_spark.operators import clip_vec as CV

#: input schema of clip_vec.slow_batch_arrow (the multi-tile clip stage)
SLOW_SCHEMA = pa.schema([("feature_id", pa.int64()), ("kind", pa.string()),
                         ("coords", pa.list_(pa.list_(pa.float64()))),
                         ("_z", pa.int32())])


def _rand_ring(rng, n):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    r = rng.uniform(0.5, 3.0, n)
    return np.column_stack([r * np.cos(ang), r * np.sin(ang)])


def test_sh_pass_matches_clip_ring_bbox_fast():
    rng = np.random.default_rng(7)
    rings, boxes = [], []
    for i in range(60):
        n = int(rng.integers(3, 14))
        ring = _rand_ring(rng, n) + rng.uniform(-2, 2, 2)
        if i % 3 == 0:  # explicitly closed ring (closing-strip path)
            ring = np.vstack([ring, ring[0]])
        rings.append(ring)
        cx, cy = rng.uniform(-3, 3, 2)
        w = rng.uniform(0.2, 2.5)
        boxes.append((cx - w, cy - w, cx + w, cy + w))
    # reference: per-ring pure python
    want = []
    for ring, (w, s, e, n) in zip(rings, boxes):
        got = K.clip_ring_bbox_fast([tuple(p) for p in ring], w, s, e, n)
        want.append(np.asarray(got, dtype=np.float64).reshape(-1, 2))
    # batched: strip closing like decode_clip_rings, one call
    stripped = []
    for ring in rings:
        a = ring.ravel()
        if a.size >= 4 and a[0] == a[-2] and a[1] == a[-1]:
            a = a[:-2]
        stripped.append(a.reshape(-1, 2))
    L = np.array([r.shape[0] for r in stripped], np.int64)
    vx = np.concatenate([r[:, 0] for r in stripped])
    vy = np.concatenate([r[:, 1] for r in stripped])
    iu = np.arange(len(rings))
    west = np.array([b[0] for b in boxes])
    south = np.array([b[1] for b in boxes])
    east = np.array([b[2] for b in boxes])
    north = np.array([b[3] for b in boxes])
    ox, oy, oL = CV.clip_polys_batched(vx, vy, L, iu, west, south, east, north)
    S = np.cumsum(oL) - oL
    for i, ref in enumerate(want):
        got = np.column_stack([ox[S[i]:S[i] + oL[i]], oy[S[i]:S[i] + oL[i]]])
        assert got.shape == ref.shape, f"ring {i}: {got.shape} vs {ref.shape}"
        assert np.array_equal(got, ref), f"ring {i} diverged (bit-exactness)"


def test_lb_batched_matches_clip_segments_bbox():
    rng = np.random.default_rng(11)
    lines, boxes = [], []
    for _ in range(80):
        n = int(rng.integers(2, 12))
        pts = np.cumsum(rng.uniform(-1, 1, (n, 2)), axis=0)
        lines.append(pts)
        cx, cy = rng.uniform(-2, 2, 2)
        w = rng.uniform(0.3, 2.0)
        boxes.append((cx - w, cy - w, cx + w, cy + w))
    want = []
    for pts, (w, s, e, n) in zip(lines, boxes):
        want.append(K.clip_segments_bbox(pts, w, s, e, n))
    nseg = np.array([p.shape[0] - 1 for p in lines], np.int64)
    seg_unit = np.repeat(np.arange(len(lines)), nseg)
    x1 = np.concatenate([p[:-1, 0] for p in lines])
    y1 = np.concatenate([p[:-1, 1] for p in lines])
    x2 = np.concatenate([p[1:, 0] for p in lines])
    y2 = np.concatenate([p[1:, 1] for p in lines])
    seg_first = np.zeros(seg_unit.size, dtype=bool)
    segS = np.cumsum(nseg) - nseg
    seg_first[segS[nseg > 0]] = True
    west = np.array([b[0] for b in boxes])
    south = np.array([b[1] for b in boxes])
    east = np.array([b[2] for b in boxes])
    north = np.array([b[3] for b in boxes])
    pvx, pvy, pieceL, piece_unit = CV.clip_lines_batched(
        x1, y1, x2, y2, seg_unit, seg_first, west, south, east, north)
    S = np.cumsum(pieceL) - pieceL
    for i, ref_pieces in enumerate(want):
        mine = [np.column_stack([pvx[S[j]:S[j] + pieceL[j]],
                                 pvy[S[j]:S[j] + pieceL[j]]])
                for j in np.nonzero(piece_unit == i)[0]]
        assert len(mine) == len(ref_pieces), f"line {i}: piece count"
        for a, b in zip(mine, ref_pieces):
            assert np.array_equal(a, b), f"line {i} piece diverged"


def test_covering_mask_matches_reference_kernels():
    """Batched covering == polygon_covering_tiles / line_covering_tiles per
    row, incl. big multi-tile polygons and diagonal lines at z 8-12,
    through the Arrow entry point slow_batch_arrow."""
    rng = np.random.default_rng(23)
    rows = []
    for i in range(50):
        z = int(rng.integers(8, 13))
        n = int(rng.integers(4, 12))
        cx, cy = rng.uniform(-170, 170), rng.uniform(-70, 70)
        scale = rng.uniform(0.02, 1.5)
        if i % 3 == 0:
            pts = np.cumsum(rng.uniform(-scale, scale, (n, 2)), axis=0) + (cx, cy)
            rows.append(("line", pts, z))
        else:
            ring = _rand_ring(rng, n) * scale + (cx, cy)
            if i % 4 == 0:
                ring = np.vstack([ring, ring[0]])
            rows.append(("polygon", ring, z))

    want = {}
    for idx, (kind, pts, z) in enumerate(rows):
        if kind == "polygon":
            tiles = K.polygon_covering_tiles(pts.ravel(), z)
        else:
            tiles = K.line_covering_tiles(pts.ravel(), z)
        want[idx] = {(int(a), int(b)) for a, b in tiles}

    rb = pa.RecordBatch.from_pylist(
        [{"feature_id": i, "kind": kind, "coords": [pts.ravel().tolist()],
          "_z": z} for i, (kind, pts, z) in enumerate(rows)],
        schema=SLOW_SCHEMA)
    got = {}
    for out in CV.slow_batch_arrow(rb, 4096):
        for r in out.to_pylist():
            got.setdefault(r["feature_id"], set()).add((r["x"], r["y"]))
    # emitted tiles ⊆ covering (degenerate clips drop); and every covered
    # tile with non-degenerate geometry must appear. Check both directions
    # against the full reference loop:
    from tile_gen_spark.functions import kernels as KK
    for idx, (kind, pts, z) in enumerate(rows):
        ref_rows = set()
        n_t = float(1 << z)
        for (x, y) in want[idx]:
            w = x / n_t * 360.0 - 180.0
            e = (x + 1.0) / n_t * 360.0 - 180.0
            north = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * y / n_t))))
            south = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * (y + 1.0) / n_t))))
            if kind == "line":
                pieces = KK.clip_segments_bbox(pts.ravel(), w, south, e, north)
                geom = []
                for p in pieces:
                    gxq, gyq = KK.quantize_to_tile(p[:, 0], p[:, 1], z, x, y, 4096)
                    gxq, gyq = KK.dedupe_consecutive(gxq, gyq)
                    if gxq.size >= 2:
                        geom.append(1)
            else:
                from tile_gen_spark.operators.tiles import _quantize_polygon_rings
                c = KK.clip_ring_bbox_fast([tuple(p) for p in pts], w, south, e, north)
                geom = _quantize_polygon_rings(
                    [np.asarray(c, dtype=np.float64).reshape(-1, 2)], z, x, y, 4096)
            if geom:
                ref_rows.add((x, y))
        assert got.get(idx, set()) == ref_rows, f"row {idx} ({kind}, z{z})"
