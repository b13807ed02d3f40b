"""J1 (SURVEY.md §2.3): quadkey-bucketed point-in-polygon spatial join.

``BASELINE.json:6,14`` mandates a "quadkey-bucketed point-in-polygon spatial
join". Shape:

 1. **Bucket** both sides at a quadkey resolution ``res``:
    - points relationally (G2 tile math as Spark SQL expressions, packed
      into one integer bucket — zero Python, whole-stage-codegen'd);
    - polygons via G8 covering tiles: one clip_vec.cover_rows call per
      Arrow batch of zones (the covering the tile assignment and clip use
      too); one row per covering bucket, with the zone's bbox.
    The zone side (zone_id, ring) is first coalesced by its bytes
    (zone_side, the one plan_bytes read of the zones): one task per
    MIN_TASK_BYTES of its plan size. Both dim
    stages read it — the covering ``mapInArrow`` and the per-edge table of
    step 3 — and each of their tasks pays a fixed cost whatever its size.
 2. **Equi-join** the buckets and keep candidates inside the zone bbox. A
    point lives in exactly ONE bucket, so the join emits each candidate
    (point, zone) pair at most once — no dropDuplicates shuffle needed
    (cheaper than generic bucket joins that duplicate both sides). The
    covering rows are broadcast when the zone side is under
    BROADCAST_MAX_BYTES (plans.session.broadcast_if_small); above it the join is left to
    Catalyst/AQE, whose skew-split handles hot city buckets.
 3. **Refine** with the exact even-odd PIP test (G7), relationally
    (pip_refine_relational): candidates join a per-edge table of the zones
    (broadcast by the same rule, else a shuffle join on zone_id), per-edge
    crossing and on-edge flags are codegen'd column arithmetic, and a hash
    aggregate per (point, zone) takes the crossing parity. ``refine=
    "indexed"`` instead holds the rings in the task closure, so it runs
    only while the zone side is under BROADCAST_MAX_BYTES; above it the
    relational refine runs.

At 100 TB the shuffles are the bucket equi-join and, without a broadcast,
the per-edge join (or none if the zone side broadcasts); the parity
aggregate adds no exchange either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import kernels as K
from ..plans import sqlgen as S
from ..plans.session import (BROADCAST_MAX_BYTES, MIN_TASK_BYTES,
                             broadcast_if_small, plan_bytes, shuffle_parts)
from .clip_vec import SLOW_CAP, _ragged_arange, cover_rows

ZONE_QK_SCHEMA = ("zone_id bigint, qb bigint, bminx double, bmaxx double, "
                  "bminy double, bmaxy double")

# bbox prefilter margin: the kernel's on-edge rule accepts points within
# K.ON_EDGE_TOL (1e-12°) of an edge, which can sit just OUTSIDE the ring's
# bbox — the margin keeps the prefilter a strict superset of the exact test
_BBOX_EPS = 1e-9


def bbox_filter(df: DataFrame, west: float, south: float, east: float,
                north: float, lon_col: str = "lon",
                lat_col: str = "lat") -> DataFrame:
    """P3 (SURVEY.md §2.2): standalone bbox predicate over lon/lat columns.

    Plain column comparisons so Catalyst pushes them into the source scan
    (``PushedFilters: GreaterThanOrEqual(lon,…), LessThanOrEqual(lat,…)`` on
    parquet — asserted by tests/test_plans.py) and prunes min/max row groups:
    at 100 TB a region query reads only the row groups whose stats intersect
    the box. Used as the pip/knn prelude to restrict the corpus to a region.
    """
    return df.filter(
        (F.col(lon_col) >= float(west)) & (F.col(lon_col) <= float(east))
        & (F.col(lat_col) >= float(south)) & (F.col(lat_col) <= float(north)))


def zoom_filter(df: DataFrame, min_z: int, max_z: int,
                z_col: str = "z") -> DataFrame:
    """P3 companion: zoom-range predicate over a tile/z column (pushdown-able
    same as bbox_filter; prunes partitionBy(z) sink directories entirely)."""
    return df.filter((F.col(z_col) >= int(min_z)) & (F.col(z_col) <= int(max_z)))


def points_with_bucket(points: DataFrame, res: int,
                       lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Integer quadkey bucket x·2^res + y (bijective with the G4 string at
    fixed res): two floor expressions instead of ``res`` string casts +
    concat — the round-1 string build was a measured fixed cost on the point
    side (VERDICT r1 perf note)."""
    x = S.tile_x(lon_col, res, S.SPARK)
    y = S.tile_y(lat_col, res, S.SPARK)
    # r7b: coalesce makes qb provably non-nullable, so the IsNotNull(qb)
    # constraint the bucket equi-join infers FOLDS AWAY instead of being
    # pushed to the scan as a filter that re-evaluates the whole qb
    # expression — LCG + mercator trig + both clamps — once more per point
    # (the pip before-plan's Filter(2) node). Value-identical: qb is null
    # only when lon/lat is null, and such rows could never match (zone qbs
    # are ≥ 0, the -1 sentinel joins nothing) nor pass the bbox refine.
    return points.withColumn(
        "qb", F.expr(f"coalesce(({x}) * {1 << res} + ({y}), -1)"))


def _clamped_rows(zi, x, y, verts, S, res: int):
    """Covering rows (zi, x, y) plus the clamped tile rows of the zones that
    reach past them.

    points_with_bucket clamps latitude to ±MAX_LAT, so a point north of the
    top tile row (lat > 85.0511°) buckets into row 0 at its own column, and
    one south of the bottom row into row 2^res - 1. A tile covering only
    sees the part of a zone inside the Mercator band, so a zone with a
    vertex past that row's outer edge also gets the whole row across its
    column range — a superset of its clamped points' buckets, which the
    exact refine trims. Rows come back in (zone, x, y) order then; batches
    without such zones come back unchanged."""
    if not S.size:
        return zi, x, y
    top = float(K.tile_bounds(res, 0, 0)[3])      # row 0's north edge
    lat = verts[:, 1]
    reach = [(k, row) for k, row in (
        (np.nonzero(np.maximum.reduceat(lat, S) > top)[0], 0),
        (np.nonzero(np.minimum.reduceat(lat, S) < -top)[0], (1 << res) - 1))
        if k.size]
    if not reach:
        return zi, x, y
    x0, _ = K.point_to_tile(np.minimum.reduceat(verts[:, 0], S), 0.0, res)
    x1, _ = K.point_to_tile(np.maximum.reduceat(verts[:, 0], S), 0.0, res)
    cols = [np.column_stack([zi, x, y])]
    for k, row in reach:
        cnt = x1[k] - x0[k] + 1
        xs = np.repeat(x0[k], cnt) + _ragged_arange(cnt)
        cols.append(np.column_stack([np.repeat(k, cnt), xs,
                                     np.full(xs.size, row, np.int64)]))
    u = np.unique(np.concatenate(cols).astype(np.int64), axis=0)
    return u[:, 0], u[:, 1], u[:, 2]


def zone_cover_batch(rb, res: int, gcap: int = K.GRID_CAP,
                     cap: int = SLOW_CAP):
    """One Arrow batch of zones (zone_id, ring) → covering rows
    (ZONE_QK_SCHEMA) in zone order, each zone's tiles in kernel order.

    Rings are read as Arrow offsets plus flat values and covered in one
    clip_vec.cover_rows call (``gcap`` and ``cap`` route a bbox-sparse or
    over-budget zone alone through K.polygon_covering_tiles); the bbox
    columns come from ``reduceat``. The rows equal K.polygon_covering_tiles
    per zone (tests pin it bit for bit), plus the clamped polar rows of a
    zone reaching past ±85.0511° (_clamped_rows).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    ring = rb.column(rb.schema.get_field_index("ring"))
    ids = np.asarray(rb.column(rb.schema.get_field_index("zone_id"))).astype(np.int64)
    n = np.asarray(pc.fill_null(pc.list_value_length(ring), 0)).astype(np.int64)
    if (n % 2).any():
        raise ValueError("zone ring with an odd number of coordinates")
    L = n // 2
    S = np.cumsum(L) - L
    verts = np.asarray(pc.list_flatten(ring)).astype(np.float64).reshape(-1, 2)
    keep = L > 0                      # a zone without vertices covers nothing
    ids, S, L = ids[keep], S[keep], L[keep]
    zi, x, y = cover_rows(np.full(ids.size, res, np.int64), verts, S, L,
                          np.zeros(ids.size, bool), cap, gcap)
    zi, x, y = _clamped_rows(zi, x, y, verts, S, res)
    cols = [ids[zi], x * (1 << res) + y]
    for red, k, eps in ((np.minimum, 0, -_BBOX_EPS), (np.maximum, 0, _BBOX_EPS),
                        (np.minimum, 1, -_BBOX_EPS), (np.maximum, 1, _BBOX_EPS)):
        bb = red.reduceat(verts[:, k], S) if S.size else np.zeros(0)
        cols.append(bb[zi] + eps)
    return pa.RecordBatch.from_arrays(
        [pa.array(c) for c in cols],
        names=["zone_id", "qb", "bminx", "bmaxx", "bminy", "bmaxy"])


#: A ring whose last vertex is within np.allclose of its first is closed:
#: kernels.points_in_ring and the covering drop that vertex, and the zone
#: side drops it too, so every refine path sees the same edges.
_NEAR = ("abs(try_element_at(ring, {0}) - try_element_at(ring, {1})) "
         "<= 1e-8 + 1e-5 * abs(try_element_at(ring, {1}))")
_RING = (f"CASE WHEN size(ring) >= 4 AND {_NEAR.format(1, -2)} AND "
         f"{_NEAR.format(2, -1)} THEN slice(ring, 1, size(ring) - 2) "
         "ELSE ring END")


def zone_side(zones: DataFrame) -> tuple[DataFrame, int]:
    """zones projected to (zone_id, ring) — a closing vertex dropped as
    kernels.points_in_ring drops it — and coalesced to one partition per
    MIN_TASK_BYTES of its optimized-plan size (plan_bytes; at least one).
    Returns the zone side and that size.

    Zones are a small dim: 4,000 zones of ~50 vertices plan at 1.8 MB in 8
    cached partitions, so without this the covering and the per-edge table
    run 8 tasks each for ~0.1 s of work. From shuffle_parts × MIN_TASK_BYTES
    up the zones keep their layout (coalesce can only merge partitions)."""
    z = zones.select("zone_id", F.expr(_RING).alias("ring"))
    nbytes = plan_bytes(z)
    n = max(1, -(-nbytes // MIN_TASK_BYTES))
    return (z.coalesce(n) if n < shuffle_parts(z.sparkSession) else z), nbytes


def zones_covering_quadkeys(zones: DataFrame, res: int) -> DataFrame:
    """G8 per zone → exploded (zone_id, qb) covering rows plus the zone's
    ±_BBOX_EPS bbox: one zone_cover_batch (clip_vec.cover_rows, the
    covering the tile assignment and clip use too) per Arrow batch."""
    return zones.select("zone_id", "ring").mapInArrow(
        lambda batches: (zone_cover_batch(rb, res) for rb in batches),
        ZONE_QK_SCHEMA)


def zone_edges(zones: DataFrame) -> DataFrame:
    """zones(zone_id, ring) → one row per edge with flat double columns
    (x1, y1, x2, y2). Evaluated once per zone (dim-table scale)."""
    nv = "(size(ring) div 2)"
    j = f"pmod(i + 1, {nv})"
    edge = (f"inline(transform(sequence(0, CAST({nv} AS INT) - 1), i -> named_struct("
            f"'x1', element_at(ring, CAST(2 * i + 1 AS INT)), "
            f"'y1', element_at(ring, CAST(2 * i + 2 AS INT)), "
            f"'x2', element_at(ring, CAST(2 * ({j}) + 1 AS INT)), "
            f"'y2', element_at(ring, CAST(2 * ({j}) + 2 AS INT)))))")
    return zones.select("zone_id", F.expr(edge))


def pip_refine_relational(candidates: DataFrame, zones: DataFrame) -> DataFrame:
    """Exact G7 refine with ZERO Python in the hot path: candidates join the
    per-edge table (broadcast_if_small), per-edge crossing/on-edge flags
    are flat-column double arithmetic (whole-stage codegen, no arrays, no
    boxing), and the per-candidate even-odd parity is a hash aggregate whose
    partial collapses map-side (broadcast join preserves the probe
    partitioning, so every candidate's edges sit in one partition). Same formulas and boundary rule
    as kernels.points_in_ring — and structurally identical to the DuckDB
    oracle (q_pip_join), so all three agree bit-for-bit.

    Why not pandas here: the per-candidate Arrow crossing was the measured
    bottleneck (identity mapInPandas over the candidate set cost more than
    the entire relational refine), and interpreted array HOFs allocate per
    element access and go GC-bound at high thread counts.

    Per-edge table over BROADCAST_MAX_BYTES (r4): the same per-edge join
    runs as a shuffle join on zone_id. The parity agg still adds NO
    exchange: HashPartitioning(zone_id) is a subset of the group
    keys (point_id, zone_id), so its ClusteredDistribution is
    already satisfied and the per-edge rows collapse partition-locally.
    Candidates shuffle once (on zone_id — replacing the broadcast), edges
    shuffle once (dim-scale); zero Python either way. Hot zones are the
    skew risk — AQE's skew-join split handles the join side, and the
    parity agg's partial aggregation bounds the reduce side."""
    x1, y1, x2, y2 = F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")
    lon, lat = F.col("lon"), F.col("lat")
    # r7b (guide §1.2 per-task work): dx/dy/seg2 and the on-edge tolerance
    # are PER-EDGE constants — computed once per edge row on the dim side
    # below instead of once per (candidate × edge) pair, which removes the
    # sqrt/greatest and four mult/sub ops from the ~46-rows-per-candidate
    # hot loop. Same float64 op ORDER everywhere a value is compared (the
    # precomputed columns hold bit-identical values to the inline exprs they
    # replace), so pair results are unchanged.
    dx, dy = F.col("_dx"), F.col("_dy")
    seg2, eps = F.col("_seg2"), F.col("_eps")
    crossing = (((y1 > lat) != (y2 > lat))
                & (lon < dx * (lat - y1) / dy + x1))
    cross = (lon - x1) * dy - (lat - y1) * dx
    dot = (lon - x1) * dx + (lat - y1) * dy
    on_edge = ((F.abs(cross) <= eps)
               & (dot >= 0) & (dot <= seg2) & (seg2 > 0))
    _dx, _dy = F.col("x2") - F.col("x1"), F.col("y2") - F.col("y1")
    edges = (zone_edges(zones)
             .withColumn("_dx", _dx).withColumn("_dy", _dy)
             .withColumn("_seg2", F.col("_dx") * F.col("_dx")
                         + F.col("_dy") * F.col("_dy"))
             .withColumn("_eps", F.lit(K.ON_EDGE_TOL) * F.sqrt(F.col("_seg2"))))
    j = candidates.join(broadcast_if_small(edges), "zone_id")
    # r7b: group on the two key columns only — lon/lat are functionally
    # dependent on point_id (every row of a group carries identical values),
    # so they ride as first() aggregates instead of widening the hash key
    # probed once per candidate×edge row (395M probes at the bench shape:
    # 4.37 → 4.08 s section median, identical pairs). zone_id stays in the
    # group keys, so the shuffle join still adds no exchange
    # (HashPartitioning(zone_id) satisfies the agg's distribution).
    return (j.groupBy("point_id", "zone_id")
            .agg(F.first("lon").alias("lon"), F.first("lat").alias("lat"),
                 F.sum(F.when(crossing, 1).otherwise(0)).alias("_nc"),
                 F.max(F.when(on_edge, 1).otherwise(0)).alias("_oe"))
            .filter((F.pmod(F.col("_nc"), F.lit(2)) == 1) | (F.col("_oe") == 1))
            .select("point_id", "zone_id", "lon", "lat"))


def pip_refine_indexed(candidates: DataFrame, zones: DataFrame) -> DataFrame:
    """Exact G7 refine with the zone rings held in the task closure.

    candidates carry only (…, zone_id, lon, lat) — no per-candidate ring
    payload crosses Arrow (the round-1 version shipped a 12-double ring per
    candidate row and spent most of the join re-materializing it in pandas:
    29 µs/candidate, measured). Rings are length-grouped and pre-stacked
    once on the driver, so the zone set must fit the driver and every task
    (pip_join takes this path only under BROADCAST_MAX_BYTES); each Arrow
    batch runs one vectorized ray-cast per length group."""
    zp = zones.select("zone_id", "ring").toPandas()
    ids = zp["zone_id"].to_numpy(np.int64)
    rings = [np.asarray(r, dtype=np.float64) for r in zp["ring"]]
    order = np.argsort(ids)
    ids_s = ids[order]
    lens_s = np.array([rings[i].size for i in order], dtype=np.int64)
    stacked: list[np.ndarray] = []
    grp = np.empty(ids_s.size, dtype=np.int64)
    row = np.empty(ids_s.size, dtype=np.int64)
    for gi, L in enumerate(np.unique(lens_s)):
        sel = np.nonzero(lens_s == L)[0]
        stacked.append(np.stack([rings[order[i]] for i in sel]).reshape(sel.size, -1, 2))
        grp[sel] = gi
        row[sel] = np.arange(sel.size)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                yield b
                continue
            pos = np.searchsorted(ids_s, b["zone_id"].to_numpy(np.int64))
            px = b["lon"].to_numpy(dtype=np.float64)
            py = b["lat"].to_numpy(dtype=np.float64)
            keep = np.zeros(len(b), dtype=bool)
            bg = grp[pos]
            br = row[pos]
            for gi in np.unique(bg):
                m = bg == gi
                keep[m] = K.points_in_rings_vec(px[m], py[m], stacked[gi][br[m]])
            yield b.loc[keep]

    return candidates.mapInPandas(fn, candidates.schema)


def pip_join(points: DataFrame, zones: DataFrame, res: int = 6,
             refine: str = "relational",
             bbox: tuple[float, float, float, float] | None = None) -> DataFrame:
    """points(point_id, lon, lat) ⨝ zones(zone_id, ring) → exact PIP pairs.

    Returns (point_id, zone_id, lon, lat). THE join-output correctness
    artifact (``BASELINE.json:6`` "join output rows ... exactly").

    The covering rows and the per-edge table are each broadcast when under
    BROADCAST_MAX_BYTES (plans.session.broadcast_if_small; the covering
    rows by the zone side's bytes, which Catalyst also plans them at), else
    joined as Catalyst/AQE choose; rows are the same either way.

    ``refine``: ``"relational"`` (default — zero-Python per-edge codegen +
    map-side parity agg) or ``"indexed"`` (rings held in the task closure,
    one vectorized ray-cast per ring-length group per Arrow batch — wins
    when zones have MANY vertices, where the exploded per-edge join row
    count becomes the cost driver). Every task then holds the whole zone
    set, so over BROADCAST_MAX_BYTES ``"indexed"`` runs the relational
    refine. Any other value is a ValueError.

    ``bbox=(west, south, east, north)``: region prelude — bbox_filter the
    point side BEFORE bucketing, so the predicate reaches the parquet scan.
    """
    if refine not in ("relational", "indexed"):
        raise ValueError(f"refine must be 'relational' or 'indexed': {refine!r}")
    if bbox is not None:
        points = bbox_filter(points, *bbox)
    pts = points_with_bucket(points.select("point_id", "lon", "lat"), res)
    # one coalesced zone side feeds every dim stage: covering, edges, rings
    zones, zbytes = zone_side(zones)
    zqk = broadcast_if_small(zones_covering_quadkeys(zones, res), zbytes)
    # zone-bbox prefilter folded into the join condition: whole-stage-codegen
    # column comparisons, zero allocation, removes ~3/4 of candidates before
    # anything Python sees. (The interpreted-HOF full ray cast was tried
    # here and is a trap: per-access boxing in lambda eval allocated ~60
    # objects/candidate·edge and went GC-bound at 32 threads.)
    in_bbox = ((F.col("lon") >= F.col("bminx")) & (F.col("lon") <= F.col("bmaxx"))
               & (F.col("lat") >= F.col("bminy")) & (F.col("lat") <= F.col("bmaxy")))
    cand = (pts.join(zqk, "qb", "inner").filter(in_bbox)
            .select("point_id", "zone_id", "lon", "lat"))
    if refine == "indexed" and zbytes <= BROADCAST_MAX_BYTES:
        return pip_refine_indexed(cand, zones)
    return pip_refine_relational(cand, zones)
