"""The batched covering and shape clip: cover_rows (the engine's one
covering front-end), both mapInArrow entry points of tiles.clip_shapes_flat
and the ragged-array numpy they share.

The r2 pipeline spent 74% of its local[32] wall time in per-(feature, zoom)
Python: a covering-tiles kernel call per row plus a pure-Python
Sutherland–Hodgman / Liang–Barsky clip per covering tile (~0.38 ms/row of
call overhead at 13.9M output rows). This module replaces that loop with
ragged-array numpy over the WHOLE Arrow batch:

 - covering (cover_rows, also behind tiles.assign_batch and
   spatial_join.zone_cover_batch): every row's vertex tiles once per batch;
   runs of rows are covered in one _dense_cover pass over their vertex-tile
   bbox grids (exactly the grid the covering kernels enumerate, with the
   kernels' three tests); a bbox-sparse or over-budget row goes alone
   through the O(covered) kernels;
 - multi-tile rows (slow_batch_arrow): every covered (tile, ring) instance
   is clipped by FOUR vectorized half-plane passes (Sutherland–Hodgman,
   same interpolation expression as kernels.clip_ring_bbox_fast, so outputs
   are bit-identical); lines run a vectorized Liang–Barsky (_liang_barsky,
   the one copy of the parameter loop, also the covering's edge test) over
   (tile, segment) instances with the same piece-joining rule as
   kernels.clip_segments_bbox;
 - single-tile rows (fast_batch_arrow): the clip is the identity, so each
   (feature, zoom) unit is one instance per ring in its one tile;
 - both clips then run the same quantize_instances → finalize_instances
   (dedupe → closing-strip → degenerate-drop → MVT winding) →
   assemble_arrays over the flat instance arrays. Tile ids and tile bounds
   come from kernels.point_to_tile and kernels.tile_bounds.

Clipping only covered tiles matters: a candidate tile outside the geometry
could leak a rare quantization sliver past the degenerate-drop, so emitted
rows equal the per-row reference loop's rows exactly (pinned by the fastpath
parity pytest and the differential tests).
"""

from __future__ import annotations

import numpy as np

from ..functions import kernels as K


def _ragged_arange(lens: np.ndarray) -> np.ndarray:
    total = int(lens.sum())
    return np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)


def _gather(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Flat index array selecting lens[i] items from starts[i] for each i."""
    return np.repeat(starts, lens) + _ragged_arange(lens)


def quantize_instances(vx: np.ndarray, vy: np.ndarray, L: np.ndarray,
                       inst_unit: np.ndarray, unit_z: np.ndarray,
                       unit_x: np.ndarray, unit_y: np.ndarray,
                       extent: int) -> tuple[np.ndarray, np.ndarray]:
    """kernels.quantize_to_tile, elementwise over ragged instances."""
    nz = np.power(2.0, unit_z.astype(np.float64))
    n_v = np.repeat(nz[inst_unit], L)
    x_v = np.repeat(unit_x[inst_unit].astype(np.float64), L)
    y_v = np.repeat(unit_y[inst_unit].astype(np.float64), L)
    lat = np.clip(vy, -K.MAX_LAT, K.MAX_LAT)
    fx = (vx + 180.0) / 360.0 * n_v - x_v
    lr = np.radians(lat)
    fy = (1.0 - np.log(np.tan(lr) + 1.0 / np.cos(lr)) / np.pi) / 2.0 * n_v - y_v
    qx = np.clip(np.floor(fx * extent + 0.5).astype(np.int64), 0, extent)
    qy = np.clip(np.floor(fy * extent + 0.5).astype(np.int64), 0, extent)
    return qx, qy


def finalize_instances(qx: np.ndarray, qy: np.ndarray, L: np.ndarray,
                       inst_unit: np.ndarray, inst_is_poly: np.ndarray,
                       ring_ord: np.ndarray, n_unit: int):
    """Quantized instances → (qx3, qy3, S3, L3, inst_keep, flip).

    Implements _quantize_polygon_rings / the line path semantics batched:
    dedupe consecutive, strip exact closing vertex (polygons), drop rings
    with < 3 verts or zero shoelace area (a dead exterior kills its whole
    unit), keep line pieces with >= 2 verts, flip winding per MVT 2.1
    §4.3.3.3 (exterior positive in y-down ints, holes negative).
    """
    tot_inst = L.size
    V = int(L.sum())
    inst_vstart = np.cumsum(L) - L
    v_inst = np.repeat(np.arange(tot_inst), L)
    keep = np.zeros(V, dtype=bool)
    keep[inst_vstart[L > 0]] = True
    if V:
        keep[1:] |= (qx[1:] != qx[:-1]) | (qy[1:] != qy[:-1])
    qx2, qy2 = qx[keep], qy[keep]
    L2 = np.bincount(v_inst, weights=keep, minlength=tot_inst).astype(np.int64)
    S2 = np.cumsum(L2) - L2

    last2 = S2 + L2 - 1
    if qx2.size:
        hi = qx2.size - 1
        sS, sE = np.minimum(S2, hi), np.clip(last2, 0, hi)
        closed = (inst_is_poly & (L2 >= 2)
                  & (qx2[sS] == qx2[sE]) & (qy2[sS] == qy2[sE]))
    else:
        closed = np.zeros(tot_inst, dtype=bool)
    keep2 = np.ones(qx2.size, dtype=bool)
    keep2[last2[closed]] = False
    qx3, qy3 = qx2[keep2], qy2[keep2]
    L3 = L2 - closed
    S3 = np.cumsum(L3) - L3

    # shoelace per instance (exact in float64: |terms| < 2^26)
    nxt = np.arange(qx3.size) + 1
    last3 = S3 + L3 - 1
    nz3 = L3 > 0
    nxt[last3[nz3]] = S3[nz3]
    x3f = qx3.astype(np.float64)
    y3f = qy3.astype(np.float64)
    cross = x3f * y3f[nxt] - x3f[nxt] * y3f
    inst3 = np.repeat(np.arange(tot_inst), L3)
    area2 = np.bincount(inst3, weights=cross, minlength=tot_inst)
    area2[L3 < 3] = 0.0

    poly_ok = inst_is_poly & (L3 >= 3) & (area2 != 0.0)
    line_ok = ~inst_is_poly & (L3 >= 2)
    ext_dead = inst_is_poly & (ring_ord == 0) & ~poly_ok
    unit_dead = np.zeros(n_unit, dtype=bool)
    unit_dead[inst_unit[ext_dead]] = True
    inst_keep = (poly_ok | line_ok) & ~unit_dead[inst_unit]
    flip = poly_ok & ((area2 > 0.0) != (ring_ord == 0))
    return qx3, qy3, S3, L3, inst_keep, flip


def assemble_arrays(qx3, qy3, S3, L3, inst_keep, flip, inst_unit,
                    unit_z, unit_x, unit_y, unit_fid):
    """One output row per unit with >= 1 kept instance (geom pieces in
    instance order; kept instances of a unit are contiguous because
    inst_unit is non-decreasing in every caller), as FLAT COLUMNS + LIST
    BUFFERS — ``(z, x, y, fid, geom_vals, geom_offsets, off_vals,
    off_offsets, off_single)`` where row i's geom is the interleaved
    ``[qx, qy, …]`` slice ``geom_vals[geom_offsets[i]:geom_offsets[i+1]]``
    and its off list (prefix offsets into that slice, one end per piece) is
    ``off_vals[off_offsets[i]:off_offsets[i+1]]`` (``off_single[i]`` marks
    single-piece rows, whose off goes out NULL). These are
    EXACTLY Arrow ListArray (values, offsets) buffers, so the Arrow path
    emits them with zero per-row Python (guide §4.2: a list column is one
    data buffer plus an offsets array — compute the offsets, never split).
    """
    empty = (np.zeros(0, np.int32), np.zeros(0, np.int64),
             np.zeros(0, np.int64), np.zeros(0, np.int64),
             np.zeros(0, np.int32), np.zeros(1, np.int64),
             np.zeros(0, np.int32), np.zeros(1, np.int64),
             np.zeros(0, bool))
    kept = np.nonzero(inst_keep)[0]
    if kept.size == 0:
        return empty
    vals_src = np.empty((qx3.size, 2), dtype=np.int32)
    vals_src[:, 0] = qx3
    vals_src[:, 1] = qy3
    Lk = L3[kept].astype(np.int64)
    fk = flip[kept]
    start = np.where(fk, S3[kept] + Lk - 1, S3[kept])
    step = np.where(fk, np.int64(-1), np.int64(1))
    vidx = np.repeat(start, Lk) + _ragged_arange(Lk) * np.repeat(step, Lk)
    geom_vals = vals_src[vidx].ravel()
    units = inst_unit[kept]
    ub = np.nonzero(np.diff(units))[0] + 1
    u_starts = np.concatenate([[0], ub]).astype(np.int64)
    u_end = np.concatenate([ub, [kept.size]]).astype(np.int64)
    u_ids = units[u_starts]
    ints_per_inst = Lk * 2
    csum = np.cumsum(ints_per_inst)
    row_ints = np.add.reduceat(ints_per_inst, u_starts)
    geom_offsets = np.concatenate([[0], np.cumsum(row_ints)])
    pre = np.concatenate([[0], csum[:-1]])
    rel = (csum - np.repeat(pre[u_starts], u_end - u_starts)).astype(np.int32)
    insts_per_row = u_end - u_starts
    off_single = insts_per_row == 1
    off_len = insts_per_row + 1          # leading 0 + one end per piece
    off_offsets = np.concatenate([[0], np.cumsum(off_len)])
    off_vals = np.zeros(int(off_len.sum()), np.int32)
    tpos = (np.repeat(off_offsets[:-1] + 1, insts_per_row)
            + _ragged_arange(insts_per_row))
    off_vals[tpos] = rel
    return (np.asarray(unit_z)[u_ids].astype(np.int32),
            np.asarray(unit_x)[u_ids].astype(np.int64),
            np.asarray(unit_y)[u_ids].astype(np.int64),
            np.asarray(unit_fid)[u_ids].astype(np.int64),
            geom_vals, geom_offsets, off_vals, off_offsets, off_single)


def _sh_pass(vx: np.ndarray, vy: np.ndarray, L: np.ndarray,
             bound: np.ndarray, axis: int, keep_ge: bool):
    """One Sutherland–Hodgman half-plane pass over all ragged instances.

    Same emission order and interpolation expression as
    kernels.clip_ring_bbox_fast.half (t = (bound-pv)/(cv-pv); point =
    prev + (cur-prev)·t on BOTH axes), so outputs are bit-identical.
    """
    V = vx.size
    if V == 0:
        return vx, vy, L
    S = np.cumsum(L) - L
    prev = np.arange(V) - 1
    nz = L > 0
    prev[S[nz]] = (S + L - 1)[nz]
    b_v = np.repeat(bound, L)
    px, py = vx[prev], vy[prev]
    cv = vx if axis == 0 else vy
    pv = px if axis == 0 else py
    cin = (cv >= b_v) if keep_ge else (cv <= b_v)
    pin = (pv >= b_v) if keep_ge else (pv <= b_v)
    crossing = cin != pin
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        t = (b_v - pv) / (cv - pv)
        ix = px + (vx - px) * t
        iy = py + (vy - py) * t
    count = crossing.astype(np.int64) + cin
    v_inst = np.repeat(np.arange(L.size), L)
    newL = np.bincount(v_inst, weights=count, minlength=L.size).astype(np.int64)
    pos = np.cumsum(count) - count
    total = int(count.sum())
    ox = np.empty(total)
    oy = np.empty(total)
    ox[pos[crossing]] = ix[crossing]
    oy[pos[crossing]] = iy[crossing]
    cpos = (pos + crossing)[cin]
    ox[cpos] = vx[cin]
    oy[cpos] = vy[cin]
    return ox, oy, newL


def clip_polys_batched(vx, vy, L, inst_unit, west, south, east, north):
    """S–H clip every (tile, ring) instance against its tile bbox: four
    half-plane passes, all instances at once."""
    w_i, s_i = west[inst_unit], south[inst_unit]
    e_i, n_i = east[inst_unit], north[inst_unit]
    vx, vy, L = _sh_pass(vx, vy, L, w_i, 0, True)
    vx, vy, L = _sh_pass(vx, vy, L, e_i, 0, False)
    vx, vy, L = _sh_pass(vx, vy, L, s_i, 1, True)
    vx, vy, L = _sh_pass(vx, vy, L, n_i, 1, False)
    return vx, vy, L


def _liang_barsky(x1, y1, x2, y2, w, s, e, n):
    """Liang–Barsky parameter loop over (segment, bbox) instances, the
    batched form of the per-segment loop in kernels.clip_segments_bbox and
    kernels._edges_cross_bboxes (same four (p, q) pairs, same float order;
    p == 0 implies a finite q, so their ``q < 0`` / ``q >= 0`` tests
    agree). Returns (accept, t0, t1); the clipped piece is x1 + t·dx for t
    in [t0, t1]."""
    dx, dy = x2 - x1, y2 - y1
    t0 = np.zeros(x1.size)
    t1 = np.ones(x1.size)
    ok = np.ones(x1.size, dtype=bool)
    for p_a, q_a in ((-dx, x1 - w), (dx, e - x1), (-dy, y1 - s), (dy, n - y1)):
        zero = p_a == 0
        ok &= ~zero | (q_a >= 0)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            t = q_a / p_a
        neg = p_a < 0
        t0 = np.where(neg, np.maximum(t0, t), t0)
        t1 = np.where(~neg & ~zero, np.minimum(t1, t), t1)
    return ok & (t0 <= t1), t0, t1


def clip_lines_batched(x1, y1, x2, y2, seg_unit, seg_first, west, south,
                       east, north):
    """Liang–Barsky over all (tile, segment) instances + piece assembly.

    Returns (pvx, pvy, pieceL, piece_unit): ragged piece polylines per unit,
    joined exactly like kernels.clip_segments_bbox (continuation iff the
    previous segment was accepted, un-truncated at t1 == 1, and its exit
    point allcloses the next entry point).
    """
    accept, t0, t1 = _liang_barsky(x1, y1, x2, y2, west[seg_unit],
                                   south[seg_unit], east[seg_unit],
                                   north[seg_unit])
    dx, dy = x2 - x1, y2 - y1
    ax = x1 + t0 * dx
    ay = y1 + t0 * dy
    bx = x1 + t1 * dx
    by = y1 + t1 * dy

    # continuation rule (np.allclose defaults: atol 1e-8, rtol 1e-5 vs a)
    prev_ok = np.zeros(accept.size, dtype=bool)
    prev_ok[1:] = accept[:-1] & (t1[:-1] == 1.0) & ~seg_first[1:]
    join = np.zeros(accept.size, dtype=bool)
    if accept.size > 1:
        close_x = np.abs(bx[:-1] - ax[1:]) <= 1e-8 + 1e-5 * np.abs(ax[1:])
        close_y = np.abs(by[:-1] - ay[1:]) <= 1e-8 + 1e-5 * np.abs(ay[1:])
        join[1:] = close_x & close_y
    cont = accept & prev_ok & join
    new_piece = accept & ~cont

    n_pieces = int(new_piece.sum())
    if n_pieces == 0:
        z = np.zeros(0)
        return z, z, np.zeros(0, np.int64), np.zeros(0, np.int64)
    piece_id = np.cumsum(new_piece) - 1          # valid where accept
    count = np.where(accept, 1 + new_piece.astype(np.int64), 0)
    pieceL = np.bincount(piece_id[accept], weights=count[accept],
                         minlength=n_pieces).astype(np.int64)
    piece_unit = seg_unit[new_piece]
    pos = np.cumsum(count) - count
    total = int(count.sum())
    pvx = np.empty(total)
    pvy = np.empty(total)
    pvx[pos[new_piece]] = ax[new_piece]
    pvy[pos[new_piece]] = ay[new_piece]
    bpos = (pos + new_piece)[accept]
    pvx[bpos] = bx[accept]
    pvy[bpos] = by[accept]
    return pvx, pvy, pieceL, piece_unit


def _vertex_tile_bbox(zs, verts, S0, L0):
    """Per-vertex tiles (xt, yt) of each row's ring ``verts[S0:S0+L0]`` at
    the row's zoom, and each row's tile bbox (x0, x1, y0, y1)."""
    v = _gather(S0, L0)
    xt, yt = K.point_to_tile(verts[v, 0], verts[v, 1], np.repeat(zs, L0))
    vS = np.cumsum(L0) - L0
    return (xt, yt, np.minimum.reduceat(xt, vS), np.maximum.reduceat(xt, vS),
            np.minimum.reduceat(yt, vS), np.maximum.reduceat(yt, vS))


def _dense_cover(zs, verts, S0, L0, is_line, xt, yt, x0, x1g, y0, y1g):
    """Batched replication of kernels.polygon_covering_tiles /
    kernels.line_covering_tiles on their dense grid, over a run of rows
    (ring ``verts[S0:S0+L0]``, vertex tiles ``xt, yt``, tile bbox
    ``x0..x1g x y0..y1g``). One unit = one (row, grid tile); a unit is kept
    by (a) vertex-tile marking, (b) tile-corner-in-ring (polygons; even-odd
    + the kernel's exact on-edge rule, wraparound edges of the
    allclose-stripped ring), (c) any-edge Liang–Barsky accept (closed ring
    for polygons, raw polyline for lines; kernels._edges_cross_bboxes
    batched over (unit, edge) instances). Same tests, same tolerances, same
    floats, so the kept tiles equal the kernel's exactly. Returns the
    covered (row, x, y), rows in order, raster (y, x) order within a row."""
    n_rows = zs.size
    gx = x1g - x0 + 1
    Ku = gx * (y1g - y0 + 1)
    unit_base = np.cumsum(Ku) - Ku
    unit_row = np.repeat(np.arange(n_rows), Ku)
    u_off = _ragged_arange(Ku)
    ux = x0[unit_row] + u_off % gx[unit_row]
    uy = y0[unit_row] + u_off // gx[unit_row]
    n_unit = unit_row.size
    west, south, east, north = K.tile_bounds(zs[unit_row], ux, uy)
    covered = np.zeros(n_unit, dtype=bool)

    # (a) vertex tiles
    v_row = np.repeat(np.arange(n_rows), L0)
    vu = unit_base[v_row] + (yt - y0[v_row]) * gx[v_row] + (xt - x0[v_row])
    covered[vu] = True

    # closed ring per polygon row (np.allclose closure rule)
    le = S0 + L0 - 1
    fx_, fy_ = verts[S0, 0], verts[S0, 1]
    lx_, ly_ = verts[le, 0], verts[le, 1]
    app = ~((np.abs(fx_ - lx_) <= 1e-8 + 1e-5 * np.abs(lx_))
            & (np.abs(fy_ - ly_) <= 1e-8 + 1e-5 * np.abs(ly_)))
    crL = L0 + app
    crS = np.cumsum(crL) - crL
    offc = _ragged_arange(crL)
    rS0 = np.repeat(S0, crL)
    gidx = np.where(offc < np.repeat(L0, crL), rS0 + offc, rS0)
    crx = verts[gidx, 0]
    cry = verts[gidx, 1]
    srL = crL - 1      # allclose-stripped ring (cr is closed by construction)

    poly_u = ~is_line[unit_row]

    # (b) tile corner inside ring — remaining polygon units only
    rem = np.nonzero(poly_u & ~covered)[0]
    if rem.size:
        ne = srL[unit_row[rem]]
        iu = np.repeat(rem, ne)
        j = _ragged_arange(ne)
        base = crS[unit_row[iu]]
        nloc = np.repeat(ne, ne)
        i1 = base + j
        i2 = base + (j + 1) % nloc
        x1, y1 = crx[i1], cry[i1]
        x2, y2 = crx[i2], cry[i2]
        dx, dy = x2 - x1, y2 - y1
        seg2 = dx * dx + dy * dy
        tol = K.ON_EDGE_TOL * np.sqrt(seg2)
        hit_b = np.zeros(n_unit, dtype=bool)
        for cx_, cy_ in ((west, south), (east, south), (east, north),
                         (west, north)):
            px, py = cx_[iu], cy_[iu]
            cond = (y1 > py) != (y2 > py)
            with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
                xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            crosses = cond & (px < xint)
            par = np.bincount(iu[crosses], minlength=n_unit) % 2 == 1
            crossv = (px - x1) * dy - (py - y1) * dx
            dot = (px - x1) * dx + (py - y1) * dy
            on = ((np.abs(crossv) <= tol) & (dot >= 0) & (dot <= seg2)
                  & (seg2 > 0))
            on_u = np.bincount(iu[on], minlength=n_unit) > 0
            hit_b |= par | on_u
        covered |= hit_b

    # (c) edge crosses tile bbox — remaining units; polygons use the closed
    # ring's consecutive edges, lines the raw polyline's
    rem = np.nonzero(poly_u & ~covered)[0]
    if rem.size:
        ne = crL[unit_row[rem]] - 1
        iu = np.repeat(rem, ne)
        j = _ragged_arange(ne)
        i1 = crS[unit_row[iu]] + j
        hit = _liang_barsky(crx[i1], cry[i1], crx[i1 + 1], cry[i1 + 1],
                            west[iu], south[iu], east[iu], north[iu])[0]
        covered |= np.bincount(iu[hit], minlength=n_unit) > 0
    rem = np.nonzero(~poly_u & ~covered)[0]
    if rem.size:
        ne = L0[unit_row[rem]] - 1
        iu = np.repeat(rem, ne)
        j = _ragged_arange(ne)
        i1 = np.repeat(S0[unit_row[rem]], ne) + j
        hit = _liang_barsky(verts[i1, 0], verts[i1, 1], verts[i1 + 1, 0],
                            verts[i1 + 1, 1], west[iu], south[iu], east[iu],
                            north[iu])[0]
        covered |= np.bincount(iu[hit], minlength=n_unit) > 0
    return unit_row[covered], ux[covered], uy[covered]


#: Work budget in grid-cell x vertex units (8M ~ 64 MB per float64 work
#: array) that the covering splits its rows by and the batched clip its
#: (tile, row) units.
SLOW_CAP = 8_000_000


def chunk_plan(w: np.ndarray, alone: np.ndarray,
               cap: int) -> list[tuple[int, int, bool]]:
    """Greedy contiguous plan over rows with weights ``w``: a list of
    (start, end, alone) row ranges in row order. ``alone`` rows get a
    one-row range flagged True (the caller's per-row path); the rest are
    packed into ranges whose weight sum stays under ``cap`` (a row over
    ``cap`` on its own still forms a range of one)."""
    n = w.size
    if n == 0:
        return []
    if int(w.sum()) <= cap and not alone.any():
        return [(0, n, False)]
    plan: list[tuple[int, int, bool]] = []
    start = acc = 0
    for i in range(n):
        if alone[i] or (acc and acc + w[i] > cap):
            if i > start:
                plan.append((start, i, False))
            start, acc = i, 0
        if alone[i]:
            plan.append((i, i + 1, True))
            start = i + 1
            continue
        acc += int(w[i])
    if n > start:
        plan.append((start, n, False))
    return plan


def cover_rows(zs, verts, S0, L0, is_line, cap: int = SLOW_CAP,
               gcap: int = K.GRID_CAP):
    """Exact covering tiles of every row of a batch — the engine's one
    covering front-end (tile assignment, the multi-tile clip and the PIP
    zone covering all call it).

    Row i is the ring ``verts[S0[i]:S0[i]+L0[i]]`` (L0 >= 1) at zoom
    ``zs[i]``: a polyline where ``is_line[i]``, else a polygon ring. Every
    row's vertex tiles are computed once; chunk_plan packs the rows into
    contiguous runs of at most ``cap`` grid-cell x vertex units (the size
    of the work arrays _dense_cover allocates), each covered in one
    _dense_cover pass. A row whose grid is over ``gcap`` cells, or whose
    own weight is over ``cap``, goes alone through
    K.polygon_covering_tiles / K.line_covering_tiles, whose memory stays
    O(covered + vertices) above ``gcap``. Returns int64 arrays (row, x, y):
    rows in order, each row's tiles exactly the kernel's, in its order."""
    xt, yt, x0, x1, y0, y1 = _vertex_tile_bbox(zs, verts, S0, L0)
    grid = (x1 - x0 + 1) * (y1 - y0 + 1)
    w = grid * L0
    vS = np.concatenate([[0], np.cumsum(L0)])
    out = [(np.zeros(0, np.int64),) * 3]
    for a, e, alone in chunk_plan(w, (grid > gcap) | (w > cap), cap):
        if alone:
            cover = (K.line_covering_tiles if is_line[a]
                     else K.polygon_covering_tiles)
            t = cover(verts[S0[a]:S0[a] + L0[a]].ravel(), int(zs[a]), cap=gcap)
            out.append((np.full(t.shape[0], a, np.int64), t[:, 0], t[:, 1]))
            continue
        r, v = slice(a, e), slice(vS[a], vS[e])
        row, x, y = _dense_cover(zs[r], verts, S0[r], L0[r], is_line[r],
                                 xt[v], yt[v], x0[r], x1[r], y0[r], y1[r])
        out.append((a + row, x, y))
    return tuple(np.concatenate(c) for c in zip(*out))


def _clip_units_parts(is_line, row_ring_count, row_first_ring, ring_len,
                      ring_start, verts, unit_row, unit_z, ux, uy, unit_fid,
                      extent) -> list[tuple]:
    """Clip + quantize + finalize + assemble over covered units (one unit =
    one (tile, row) pair, the rows' KEPT/stripped ring slices into the
    global ``verts``), returning assemble_arrays part tuples (polygons part,
    then lines part)."""
    n_unit = unit_row.size
    r0 = row_first_ring[:-1]
    west, south, east, north = K.tile_bounds(unit_z, ux, uy)
    parts: list[tuple] = []

    # --- polygons -----------------------------------------------------------
    pu = np.nonzero(~is_line[unit_row])[0]
    if pu.size:
        cnt = row_ring_count[unit_row[pu]]
        p_inst_unit = np.repeat(pu, cnt)
        ring_ord = _ragged_arange(cnt)
        p_ring = row_first_ring[unit_row[p_inst_unit]] + ring_ord
        Lp = ring_len[p_ring]
        vidx = _gather(ring_start[p_ring], Lp)
        pvx = verts[vidx, 0]
        pvy = verts[vidx, 1]
        cvx, cvy, Lc = clip_polys_batched(pvx, pvy, Lp, p_inst_unit,
                                          west, south, east, north)
        qx, qy = quantize_instances(cvx, cvy, Lc, p_inst_unit, unit_z, ux, uy,
                                    extent)
        fin = finalize_instances(qx, qy, Lc, p_inst_unit,
                                 np.ones(Lc.size, dtype=bool), ring_ord,
                                 n_unit)
        parts.append(assemble_arrays(*fin, p_inst_unit, unit_z, ux, uy,
                                     unit_fid))

    # --- lines --------------------------------------------------------------
    lu = np.nonzero(is_line[unit_row])[0]
    if lu.size:
        lrow = unit_row[lu]
        rl = r0[lrow]
        nseg = np.maximum(ring_len[rl] - 1, 0)
        seg_unit = np.repeat(lu, nseg)
        sidx = _gather(ring_start[rl], nseg)
        sx1 = verts[sidx, 0]
        sy1 = verts[sidx, 1]
        sx2 = verts[sidx + 1, 0]
        sy2 = verts[sidx + 1, 1]
        seg_first = np.zeros(seg_unit.size, dtype=bool)
        segS = np.cumsum(nseg) - nseg
        seg_first[segS[nseg > 0]] = True
        pvx, pvy, pieceL, piece_unit = clip_lines_batched(
            sx1, sy1, sx2, sy2, seg_unit, seg_first, west, south, east, north)
        if pieceL.size:
            qx, qy = quantize_instances(pvx, pvy, pieceL, piece_unit,
                                        unit_z, ux, uy, extent)
            fin = finalize_instances(qx, qy, pieceL, piece_unit,
                                     np.zeros(pieceL.size, dtype=bool),
                                     np.zeros(pieceL.size, np.int64), n_unit)
            parts.append(assemble_arrays(*fin, piece_unit, unit_z, ux, uy,
                                         unit_fid))
    return parts


def parts_to_batches(parts: list[tuple]):
    """assemble_arrays part tuples → pyarrow RecordBatches (CLIP_FLAT_SCHEMA):
    the list columns are built straight from (values, offsets) buffers —
    zero per-row Python (guide §4.2). geom is the interleaved [qx, qy, …]
    int32 list; single-piece rows get a NULL off via the ListArray validity
    mask (NEST_GEOM_EXPR wraps their geom as one ring)."""
    import pyarrow as pa
    out = []
    for (z, x, y, fid, gvals, goff, ovals, ooff, osingle) in parts:
        if z.size == 0:
            continue
        geom = pa.ListArray.from_arrays(
            pa.array(goff.astype(np.int32)), pa.array(gvals, pa.int32()))
        mask = pa.array(osingle) if osingle.any() else None
        off = pa.ListArray.from_arrays(
            pa.array(ooff.astype(np.int32)), pa.array(ovals, pa.int32()),
            mask=mask)
        out.append(pa.RecordBatch.from_arrays(
            [pa.array(z, pa.int32()), pa.array(x, pa.int64()),
             pa.array(y, pa.int64()), pa.array(fid, pa.int64()), geom, off],
            names=["z", "x", "y", "feature_id", "geom", "off"]))
    return out


# ---------------------------------------------------------------------------
# Arrow-native entry points (guide §4.2): slow_batch_arrow (multi-tile
# zooms) and fast_batch_arrow (single-tile zooms) are the mapInArrow
# front-ends of the shape clip and share one quantize/finalize/assemble —
# ring structures decoded straight from the ListArray offset/value buffers
# (no per-row Python lists on input) and output RecordBatches built from the
# assemble_arrays buffers (no np.split/tolist per row on output). Their
# reference is the per-row loop behind tiles.clip_shapes_reference; parity
# is pinned by the fastpath parity pytest and the Spark-free differential
# test (tests/test_clip_differential.py).
# ---------------------------------------------------------------------------

def decode_clip_rings(rb, strip: bool = True):
    """RecordBatch with (kind, coords) → flat ring structures, straight from
    the ListArray offset/value buffers. ``strip=True`` is the multi-tile
    clip's view (lines: ring 0 only; polys: strip the exact closing vertex,
    as kernels.clip_ring_bbox_fast does — representable as ring_len−1 with
    the same start, so no bytes are copied); ``strip=False`` is the
    single-tile clip's and the tile assignment's view (all rings,
    untouched). Returns (is_line, ring_len, ring_start, verts,
    row_ring_count, row_first_ring)."""
    import pyarrow.compute as pc
    cols = {n: rb.column(i) for i, n in enumerate(rb.schema.names)}
    is_line = np.asarray(pc.equal(cols["kind"], "line"))
    coords = cols["coords"]
    rc_raw = np.asarray(pc.list_value_length(coords)).astype(np.int64)
    rings = pc.list_flatten(coords)
    rl_d = np.asarray(pc.list_value_length(rings)).astype(np.int64)
    vals = np.asarray(pc.list_flatten(rings)).astype(np.float64)
    verts = vals.reshape(-1, 2)
    cum_d = np.concatenate([[0], np.cumsum(rl_d)])
    ring_start_all = (cum_d[:-1] // 2).astype(np.int64)
    V_all = rl_d // 2
    raw_first = np.concatenate([[0], np.cumsum(rc_raw)]).astype(np.int64)
    if not strip:
        return is_line, V_all, ring_start_all, verts, rc_raw, raw_first

    # kept rings: lines keep ring 0 only, polys keep all
    row_ring_count = np.where(is_line, np.minimum(rc_raw, 1), rc_raw)
    kept = _gather(raw_first[:-1], row_ring_count)
    s = ring_start_all[kept]
    V = V_all[kept]
    ring_is_poly = np.repeat(~is_line, row_ring_count)
    if verts.shape[0]:
        e = np.clip(s + V - 1, 0, verts.shape[0] - 1)
        s_safe = np.minimum(s, verts.shape[0] - 1)
        strip = (ring_is_poly & (V >= 2)
                 & (verts[s_safe, 0] == verts[e, 0])
                 & (verts[s_safe, 1] == verts[e, 1]))
    else:
        strip = np.zeros(kept.size, dtype=bool)
    ring_len = V - strip
    row_first_ring = np.concatenate([[0], np.cumsum(row_ring_count)]).astype(np.int64)
    return (is_line, ring_len, s.astype(np.int64), verts,
            row_ring_count.astype(np.int64), row_first_ring)


def slow_batch_arrow(rb, extent: int, cap: int = SLOW_CAP,
                     gcap: int = K.GRID_CAP):
    """One input RecordBatch of multi-tile (feature, _z) rows → list of
    output RecordBatches (CLIP_FLAT_SCHEMA), zero per-row Python end to end:
    cover_rows over every row's (stripped) ring 0, then _clip_units_parts
    over the covered (tile, row) units in contiguous runs of at most ``cap``
    summed ring vertices, since the clip materializes per-(tile, ring)
    instance arrays for a whole run at once. ``gcap`` and ``cap`` also
    bound the covering (see cover_rows): a bbox-sparse row — e.g. a
    continent-spanning diagonal line at z12, whose full bbox grid would be
    ~16.7M cells for O(10^3) covered tiles — or a row over the work budget
    is covered alone by the O(covered) kernels, so only covered tiles are
    ever clipped. Units come in row order, so output follows row order.
    """
    if rb.num_rows == 0:
        return []
    (is_line, ring_len, ring_start, verts, row_ring_count,
     row_first_ring) = decode_clip_rings(rb)
    zs = np.asarray(rb.column(rb.schema.names.index("_z"))).astype(np.int64)
    fids = np.asarray(rb.column(rb.schema.names.index("feature_id"))).astype(np.int64)
    r0 = row_first_ring[:-1]
    row, ux, uy = cover_rows(zs, verts, ring_start[r0], ring_len[r0], is_line,
                             cap, gcap)
    cum = np.concatenate([[0], np.cumsum(ring_len)])
    nv = np.maximum(cum[row_first_ring[1:]] - cum[r0], 1)
    parts: list[tuple] = []
    for a, e, _ in chunk_plan(nv[row], np.zeros(row.size, bool), cap):
        u = row[a:e]
        parts.extend(_clip_units_parts(
            is_line, row_ring_count, row_first_ring, ring_len, ring_start,
            verts, u, zs[u], ux[a:e], uy[a:e], fids[u], extent))
    return parts_to_batches(parts)


def _fast_core(is_line: np.ndarray, fids: np.ndarray,
               feat_ring_count: np.ndarray, feat_first_ring: np.ndarray,
               ring_len: np.ndarray, ring_start: np.ndarray, verts: np.ndarray,
               unit_feat: np.ndarray, unit_z: np.ndarray, extent: int) -> list:
    """Vectorized single-tile clip: every (feature, z) unit is guaranteed
    (by the relational corner-tile split in tiles.clip_shapes_flat) to fit
    in ONE tile at z, so the clip is the identity and the batch reduces to
    the multi-tile clip's quantize + finalize + assemble over one instance
    per (unit, ring), the tile taken from vertex 0 of ring 0. Output equals
    the per-row loop behind tiles.clip_shapes_reference (pinned by the
    fastpath parity pytest and the differential tests)."""
    n_unit = unit_feat.size
    inst_per_unit = feat_ring_count[unit_feat]
    inst_unit = np.repeat(np.arange(n_unit), inst_per_unit)
    ring_ord = _ragged_arange(inst_per_unit)
    inst_ring = feat_first_ring[unit_feat[inst_unit]] + ring_ord
    v0 = ring_start[feat_first_ring[unit_feat]]
    tx, ty = K.point_to_tile(verts[v0, 0], verts[v0, 1], unit_z)
    L = ring_len[inst_ring]
    vidx = _gather(ring_start[inst_ring], L)
    qx, qy = quantize_instances(verts[vidx, 0], verts[vidx, 1], L, inst_unit,
                                unit_z, tx, ty, extent)
    fin = finalize_instances(qx, qy, L, inst_unit,
                             ~is_line[unit_feat[inst_unit]], ring_ord, n_unit)
    return [assemble_arrays(*fin, inst_unit, unit_z, tx, ty, fids[unit_feat])]


def fast_batch_arrow(rb, extent: int):
    """One input RecordBatch of single-tile rows (feature_id, kind, coords,
    _zs = array<int> of the feature's single-tile zooms) → list of
    CLIP_FLAT_SCHEMA RecordBatches. Rings are decoded unstripped (lines keep
    all rings; the closing vertex goes in finalize_instances)."""
    if rb.num_rows == 0:
        return []
    import pyarrow.compute as pc
    (is_line, ring_len, ring_start, verts, feat_ring_count,
     feat_first_ring) = decode_clip_rings(rb, strip=False)
    fids = np.asarray(rb.column(rb.schema.names.index("feature_id"))).astype(np.int64)
    zs_col = rb.column(rb.schema.names.index("_zs"))
    m = np.asarray(pc.list_value_length(zs_col)).astype(np.int64)
    unit_z = np.asarray(pc.list_flatten(zs_col)).astype(np.int64)
    unit_feat = np.repeat(np.arange(rb.num_rows), m)
    if unit_feat.size == 0:
        return []
    return parts_to_batches(_fast_core(
        is_line, fids, feat_ring_count, feat_first_ring, ring_len, ring_start,
        verts, unit_feat, unit_z, extent))
