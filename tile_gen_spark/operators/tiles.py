"""Tile assignment, clipping, and per-tile grouping (SURVEY.md §2 G2/G8/G9/G11, A1/A2).

The heart of the engine (``BASELINE.json:6``): every feature is assigned to the
slippy tiles it intersects for each requested zoom, clipped to the tile bbox
(Sutherland–Hodgman for rings, Liang–Barsky for lines), quantized to MVT
tile-local integer coordinates, and grouped per (z, x, y) into a
deterministic, sorted MVT-equivalent feature list.

Scale design:
 - POINT assignment is pure relational Spark SQL (floor/trig from
   plans/sqlgen.py — no Python crossing at all), so Catalyst pushes filters
   and prunes columns around it, and it whole-stage-codegens.
 - Polygon/line assignment (assign_batch) and covering + clipping are
   Arrow-native ``mapInArrow`` passes over ragged numpy in clip_vec (one
   covering front-end, cover_rows; single-tile zooms: fast_batch_arrow;
   multi-tile zooms: slow_batch_arrow; one shared quantize/finalize) — the
   only Python crossings, placed AFTER relational filters (UDF-barrier
   management, SURVEY.md §4.2). This module keeps the Spark plan around
   them and the per-row reference clip (clip_reference_batch), which shares
   none of their batched code.
 - The per-tile ``collect_list`` agg (tile_feature_lists_dim) runs on ONE
   hash(tile key) exchange, unsalted; the salted two-phase shape (agg by
   (z,x,y,salt) then flatten, A2/J9) remains only in the nested reference
   tile_feature_lists.
 - The clip and agg exchanges take one partition count, clip_parts: the
   shuffle partitions, over-partitioned ×OVERPART only when the input's
   optimized-plan size (plans.session.plan_bytes) is at least
   MIN_TASK_BYTES per partition.
 - The per-feature kind/props dim joins after the last exchange, broadcast
   when under BROADCAST_MAX_BYTES (plans.session.broadcast_if_small).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import kernels as K
from ..plans import sqlgen as S
from ..plans.session import (MIN_TASK_BYTES, broadcast_if_small,
                             plan_bytes, shuffle_parts)
from .clip_vec import (cover_rows, decode_clip_rings, fast_batch_arrow,
                       slow_batch_arrow)

ASSIGN_SCHEMA = "feature_id bigint, z int, x bigint, y bigint"
CLIP_SCHEMA = ("z int, x bigint, y bigint, feature_id bigint, kind string, "
               "geom array<array<int>>, props map<string,string>")
# r4 FLAT transport (VERDICT r3 "What's wrong #1"): the per-(tile, zoom) row
# that crosses Arrow and both agg exchanges carries a single flat int array
# plus ring prefix offsets — no nested array-of-arrays headers, no kind, and
# crucially no per-row copy of the feature's props map. kind/props ship ONCE
# per feature (dim join after the agg exchange); the nested
# array<array<int>> public view is rebuilt relationally (nest_geom).
CLIP_FLAT_SCHEMA = ("z int, x bigint, y bigint, feature_id bigint, "
                    "geom array<int>, off array<int>")

#: Over-partitioning of the clip and agg exchanges relative to
#: shuffle_parts for large inputs: smaller tasks pack the waves evenly around
#: the hot low-z tiles and cut per-task collect state. r7 A/B of the agg
#: phase at the 400k-page shape (local[32]): ×1 = 8.7 s, ×4 = 6.5 s,
#: ×8 = 6.5 s (×2 = 11.7 s — a reproducible hash-collision pathology at 128
#: partitions, avoided).
OVERPART = 4

#: flat (geom, off) → the public nested array<array<int>> ring list —
#: pure Catalyst expression, no Python. geom is interleaved [qx, qy, …]; off
#: holds ring prefix offsets into it and is NULL for single-piece rows (~90%
#: of rows at the bench shape) — those nest via ONE array(geom) wrap instead
#: of sequence/transform/slice, and the off array leaves the exchange
#: entirely.
NEST_GEOM_EXPR = ("if(off IS NULL, array(geom), "
                  "transform(sequence(1, size(off) - 1), "
                  "i -> slice(geom, off[i-1] + 1, off[i] - off[i-1])))")


def nest_geom(df: DataFrame) -> DataFrame:
    """Replace flat (geom, off) columns with the nested CLIP_SCHEMA geom."""
    return df.withColumn("geom", F.expr(NEST_GEOM_EXPR)).drop("off")


def _by_fid(arr):
    """Deterministic per-tile order: maps aren't orderable → explicit
    comparator on the (unique-per-tile, non-null) feature id.

    r7: ``signum(l - r)`` instead of a two-branch ``when`` chain — one
    arithmetic expression per comparison instead of two interpreted
    predicates (comparators run inside the interpreted HOF evaluator,
    ~n·log n times per tile). Same ordering: ids are < 2^60 so the long
    subtraction cannot overflow. Measured on the bench agg: 11.1 → 10.0 s
    for the full agg phase (guide §1.2 per-task work)."""
    return F.array_sort(
        arr, lambda l, r: F.signum(l.feature_id - r.feature_id).cast("int"))


def _quantize_polygon_rings(rings: list[np.ndarray], z: int, x: int, y: int,
                            extent: int) -> list[list[int]]:
    """Clipped lon/lat rings (ring 0 exterior, 1+ holes) → MVT-wound quantized
    pieces.

    Winding is normalized in QUANTIZED tile space, where y points down: MVT
    2.1 §4.3.3.3 requires the exterior ring to have POSITIVE shoelace area on
    the stored (qx, qy) ints (screen-clockwise) and interior rings negative.
    Normalizing CCW in lon/lat (y-up) and letting quantization flip the axis
    — the round-1 behavior — inverts every ring's class for spec-conformant
    decoders. Zero-area rings are dropped (spec: rings MUST have area > 0);
    a degenerate exterior drops the whole feature-in-tile ([]).
    """
    geom: list[list[int]] = []
    for ridx, p in enumerate(rings):
        if p.shape[0] < 3:
            if ridx == 0:
                return []
            continue
        gx, gy = K.quantize_to_tile(p[:, 0], p[:, 1], z, x, y, extent)
        gx, gy = K.dedupe_consecutive(gx, gy)
        if gx.size >= 2 and gx[0] == gx[-1] and gy[0] == gy[-1]:
            gx, gy = gx[:-1], gy[:-1]
        if gx.size < 3:
            if ridx == 0:
                return []
            continue
        q = np.column_stack([gx, gy]).astype(np.float64)
        a = K.ring_signed_area(q)
        if a == 0.0:
            if ridx == 0:
                return []
            continue
        if (a > 0) != (ridx == 0):
            q = q[::-1]
        geom.append(q.ravel().astype(np.int32).tolist())
    return geom


def _coord_rings(coords) -> list[np.ndarray]:
    return [np.asarray(c, dtype=np.float64).reshape(-1, 2) for c in coords]


def with_lonlat(features: DataFrame) -> DataFrame:
    """First vertex of the first ring as the representative point (for points
    this IS the geometry)."""
    return (features
            .withColumn("lon", F.col("coords")[0][0])
            .withColumn("lat", F.col("coords")[0][1]))


def assign_points(points: DataFrame, zooms: list[int]) -> DataFrame:
    """G2 relationally: tile ids via Spark SQL floor/trig — zero Python.

    One select per zoom, unioned; Catalyst folds the shared scan. Output
    matches kernels.point_to_tile bit-for-bit (same formula, float64).
    """
    pts = with_lonlat(points).select("feature_id", "lon", "lat")
    # single explode over a per-zoom struct array — NOT a 13-way union: union
    # branches each re-execute the shared upstream subtree (Catalyst performs
    # no cross-branch CSE), which re-ran the Arrow parse stage once per zoom
    entries = [F.struct(
        F.lit(z).cast("int").alias("z"),
        F.expr(S.tile_x("lon", z, S.SPARK)).alias("x"),
        F.expr(S.tile_y("lat", z, S.SPARK)).alias("y")) for z in zooms]
    return (pts.select("feature_id", F.explode(F.array(*entries)).alias("t"))
            .select("feature_id", "t.z", "t.x", "t.y"))


def assign_batch(rb, zooms: list[int]):
    """One Arrow batch of shapes (feature_id, kind, coords) → ASSIGN_SCHEMA
    rows: ring 0 of every feature at every zoom, covered in one
    clip_vec.cover_rows call (feature-major, then zoom order, each row's
    tiles in kernel order)."""
    import pyarrow as pa
    is_line, ring_len, ring_start, verts, rc, first = decode_clip_rings(
        rb, strip=False)
    fids = np.asarray(rb.column(rb.schema.names.index("feature_id"))).astype(np.int64)
    # a feature without a ring-0 vertex covers nothing
    L0 = np.zeros(rc.size, np.int64)
    L0[rc > 0] = ring_len[first[:-1][rc > 0]]
    has = np.nonzero(L0 > 0)[0]
    m = len(zooms)
    feat = np.repeat(has, m)
    zs = np.tile(np.asarray(zooms, np.int64), has.size)
    r0 = first[feat]
    row, x, y = cover_rows(zs, verts, ring_start[r0], ring_len[r0],
                           is_line[feat])
    return pa.RecordBatch.from_arrays(
        [pa.array(fids[feat[row]], pa.int64()), pa.array(zs[row], pa.int32()),
         pa.array(x, pa.int64()), pa.array(y, pa.int64())],
        names=["feature_id", "z", "x", "y"])


def assign_shapes(shapes: DataFrame, zooms: list[int]) -> DataFrame:
    """G8: polygons/lines → covering tiles per zoom, one assign_batch per
    Arrow batch (no per-row Python)."""
    return shapes.select("feature_id", "kind", "coords").mapInArrow(
        lambda batches: (assign_batch(rb, zooms) for rb in batches),
        ASSIGN_SCHEMA)


def assign_features(features: DataFrame, zooms: list[int]) -> DataFrame:
    """All kinds → (feature_id, z, x, y). THE correctness artifact
    (``BASELINE.json:6`` "tile assignments ... exactly")."""
    pts = features.filter(F.col("kind") == "point")
    shp = features.filter(F.col("kind") != "point")
    return assign_points(pts, zooms).unionByName(assign_shapes(shp, zooms))


def clip_points_relational(points: DataFrame, zooms: list[int],
                           extent: int = K.MVT_EXTENT) -> DataFrame:
    """Fused assign+quantize for points — pure Spark SQL, no join, no Python.

    One select per zoom over the same scan (Catalyst collapses them); each row
    emits its tile id (G2) and tile-local quantized geometry (G11) from the
    same tile-fraction expression."""
    pts = with_lonlat(points).select("feature_id", "kind", "lon", "lat", "props")
    # one explode, one scan (see assign_points: unions re-execute the subtree)
    entries = []
    for z in zooms:
        qx = S.quantize_x("lon", f"{z}.0", S.tile_x("lon", z, S.SPARK), extent)
        qy = S.quantize_y("lat", f"{z}.0", S.tile_y("lat", z, S.SPARK), extent)
        entries.append(F.struct(
            F.lit(z).cast("int").alias("z"),
            F.expr(S.tile_x("lon", z, S.SPARK)).alias("x"),
            F.expr(S.tile_y("lat", z, S.SPARK)).alias("y"),
            F.expr(qx).alias("qx"),
            F.expr(qy).alias("qy")))
    return (pts.select("feature_id", "kind", "props",
                       F.explode(F.array(*entries)).alias("t"))
            .select("t.z", "t.x", "t.y", "feature_id", "kind",
                    F.array(F.array("t.qx", "t.qy")).alias("geom"), "props"))


def clip_parts(size_bytes: int, base: int) -> int:
    """Partition count of the clip and agg exchanges for an input of
    ``size_bytes`` at ``base`` shuffle partitions: ×OVERPART from
    MIN_TASK_BYTES per partition up, else ``base``.

    Below that each extra Python task costs more than it spreads: the cached
    features of 4,000 uniform pages (1.4 MB) clip in a 36-task stage of
    2.1 s at ×4 and a 12-task stage of 0.8 s at ×1 (4 shuffle partitions,
    4 vCPU). The 400k city-skewed pages (113–139 MB) stay at ×4 up to 64
    partitions."""
    return base * OVERPART if size_bytes >= base * MIN_TASK_BYTES else base


def _n_clip_parts(df: DataFrame) -> int:
    return clip_parts(plan_bytes(df), shuffle_parts(df.sparkSession))


def clip_reference_batch(b: pd.DataFrame,
                         extent: int = K.MVT_EXTENT) -> pd.DataFrame:
    """The per-row reference clip (the pre-r3 single path) over one pandas
    batch of (feature_id, kind, coords, props, _z) rows → CLIP_SCHEMA rows,
    nested geom built directly in Python: one covering-kernel call and one
    scalar clip per (feature, zoom, tile). Production never runs it; it is
    what the parity and differential tests compare the batched clip
    against."""
    rows: dict[str, list] = {k: [] for k in ("z", "x", "y", "feature_id", "kind", "geom", "props")}
    for fid, kind, coords, props, z in zip(
            b["feature_id"], b["kind"], b["coords"], b["props"], b["_z"]):
        rings_ll = _coord_rings(coords)
        ring = rings_ll[0].ravel()
        z = int(z)
        allv = rings_ll[0] if len(rings_ll) == 1 else np.concatenate(rings_ll)
        vtx, vty = K.point_to_tile(allv[:, 0], allv[:, 1], z)
        if vtx.min() == vtx.max() and vty.min() == vty.max():
            # fast path (the majority at z ≤ ~9 for city-scale
            # features): every vertex (all rings) in one tile ⇒
            # covering = that tile and the clip is the identity
            x, y = int(vtx[0]), int(vty[0])
            if kind == "line":
                gx, gy = K.quantize_to_tile(allv[:, 0], allv[:, 1], z, x, y, extent)
                gx, gy = K.dedupe_consecutive(gx, gy)
                if gx.size < 2:
                    continue
                geom = [np.column_stack([gx, gy]).ravel().astype(np.int32).tolist()]
            else:
                geom = _quantize_polygon_rings(rings_ll, z, x, y, extent)
            if not geom:
                continue
            rows["z"].append(z)
            rows["x"].append(x)
            rows["y"].append(y)
            rows["feature_id"].append(fid)
            rows["kind"].append(kind)
            rows["geom"].append(geom)
            rows["props"].append(props)
            continue
        if kind == "polygon":
            tiles = K.polygon_covering_tiles(ring, z)
        else:
            tiles = K.line_covering_tiles(ring, z)
        if tiles.shape[0] == 0:
            continue
        n_t = float(1 << z)
        west = tiles[:, 0] / n_t * 360.0 - 180.0
        east = (tiles[:, 0] + 1.0) / n_t * 360.0 - 180.0
        north = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * tiles[:, 1] / n_t))))
        south = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * (tiles[:, 1] + 1.0) / n_t))))
        rings_t = [[tuple(v) for v in r] for r in rings_ll]
        for i in range(tiles.shape[0]):
            x, y = int(tiles[i, 0]), int(tiles[i, 1])
            if kind == "line":
                pieces = K.clip_segments_bbox(ring, west[i], south[i], east[i], north[i])
                geom = []
                for p in pieces:
                    gx, gy = K.quantize_to_tile(p[:, 0], p[:, 1], z, x, y, extent)
                    gx, gy = K.dedupe_consecutive(gx, gy)
                    if gx.size < 2:
                        continue
                    geom.append(np.column_stack([gx, gy]).ravel().astype(np.int32).tolist())
            else:
                clipped = []
                for rt in rings_t:
                    c = K.clip_ring_bbox_fast(rt, west[i], south[i], east[i], north[i])
                    clipped.append(np.asarray(c, dtype=np.float64).reshape(-1, 2))
                geom = _quantize_polygon_rings(clipped, z, x, y, extent)
            if not geom:
                continue
            rows["z"].append(z)
            rows["x"].append(x)
            rows["y"].append(y)
            rows["feature_id"].append(fid)
            rows["kind"].append(kind)
            rows["geom"].append(geom)
            rows["props"].append(props)
    return pd.DataFrame({
        "z": pd.Series(rows["z"], dtype="int32"),
        "x": pd.Series(rows["x"], dtype="int64"),
        "y": pd.Series(rows["y"], dtype="int64"),
        "feature_id": pd.Series(rows["feature_id"], dtype="int64"),
        "kind": pd.Series(rows["kind"], dtype="string"),
        "geom": pd.Series(rows["geom"], dtype=object),
        "props": pd.Series(rows["props"], dtype=object),
    })


def clip_shapes_reference(shapes: DataFrame, zooms: list[int],
                          extent: int = K.MVT_EXTENT) -> DataFrame:
    """Nested per-row reference for clip_shapes_direct: every (feature,
    zoom) row through clip_reference_batch in a ``mapInPandas`` (CLIP_SCHEMA
    out), spread on (feature_id, _z) like the production multi-tile clip."""
    sel = (shapes.select("feature_id", "kind", "coords", "props")
           .withColumn("_z", F.explode(F.array(*[F.lit(z) for z in zooms])))
           .repartition(_n_clip_parts(shapes), "feature_id", "_z"))
    return sel.mapInPandas(
        lambda batches: (clip_reference_batch(b, extent) for b in batches),
        CLIP_SCHEMA)


def clip_shapes_direct(shapes: DataFrame, zooms: list[int],
                       extent: int = K.MVT_EXTENT) -> DataFrame:
    """Fused covering+clip+quantize for lines/polygons — ONE Arrow crossing,
    no assignments join (each feature's coords cross the boundary once instead
    of once per covering tile; at z≤12 a large polygon covers 10³ tiles, so
    this is a ~650× reduction in shuffled bytes for the synthetic corpus).

    Zoom split (r3): a relational corner-tile test (same G2 SQL text as the
    point path) partitions each feature's zooms into SINGLE-TILE zooms
    (bbox corners share a tile ⇒ the clip is the identity — the vectorized
    clip_vec.fast_batch_arrow handles thousands of rows per numpy call and
    ships coords ONCE per feature instead of once per zoom) and MULTI-TILE zooms
    (the batched covering+clip of clip_vec.slow_batch_arrow). Monotonicity
    makes the split exact: if the bbox fits one tile at z it fits at every
    z' < z. The kind/props dim rejoins by plans.session.broadcast_if_small.
    Output rows equal clip_shapes_reference's."""
    # flat core + relational nested view + per-FEATURE kind/props rejoin
    # (the parity pytest compares this whole composition — flat kernels AND
    # reconstruction — against clip_shapes_reference).
    # The dim is broadcast when under BROADCAST_MAX_BYTES: without the hint
    # Catalyst planned a wide shuffle join AND re-ran the shapes lineage
    # scan on the dim side (ADVICE r4 #3)
    flat = clip_shapes_flat(shapes, zooms, extent)
    dim = broadcast_if_small(shapes.select("feature_id", "kind", "props"))
    return (nest_geom(flat).join(dim, "feature_id")
            .select("z", "x", "y", "feature_id", "kind", "geom", "props"))


def clip_shapes_flat(shapes: DataFrame, zooms: list[int],
                     extent: int = K.MVT_EXTENT,
                     n_parts: int | None = None) -> DataFrame:
    """clip_shapes_direct's flat core (CLIP_FLAT_SCHEMA): what actually
    crosses Arrow and the downstream agg exchanges. No kind/props columns,
    geom as ONE interleaved [qx, qy, …] int array + ring prefix offsets
    (NULL off for single-piece rows). ``n_parts`` (default: clip_parts of
    ``shapes``) is the partition count of both clip exchanges."""
    # Explode per (feature, zoom) BEFORE the Python stage and hash-spread on
    # (feature_id, z): clip CPU varies ~1000× per feature and grows with z, so
    # fine-grained rows pack the task waves evenly (the 64-partition version
    # ran local[32] in 2 straggler-dominated waves — measured 0.5 efficiency);
    # on large inputs clip_parts' OVERPART× over-partitioning bounds the max
    # wave skew to ~1/OVERPART of a wave, and small ones keep one task per
    # shuffle partition.
    if n_parts is None:
        n_parts = _n_clip_parts(shapes)

    # relational zoom split: bbox corner tiles (same G2 SQL text as the point
    # path, so the split can never disagree with the kernels) — zero Python.
    #
    # r7 (the round's biggest pipeline find): the bbox min/max are
    # interpreted higher-order functions (CodegenFallback, no subexpression
    # elimination), and CollapseProject used to INLINE their aliases into
    # every one of the 13 corner-tile conds × 4 references × both branches —
    # re-walking each feature's coord arrays ~50-100× per row. Measured:
    # noop of the fast branch alone cost 68 s at local[32] with the inlined
    # form. The fix is a materialization BARRIER: evaluate the four HOFs
    # once per feature, then repartition — the exchange materializes them as
    # plain double columns CollapseProject cannot reach through, and it
    # doubles as the fast branch's wave-balancing spread (hash(feature_id),
    # same n_parts as before) while both branches now REUSE one exchange
    # (guide §2.4 "two operations keyed the same way share one exchange").
    # The per-z conds downstream are scalar floor/trig — cheap even where
    # the _zs/_st HOF lambdas re-evaluate them per element. (The pre-r7
    # "head repartition measured slower" note referred to a repartition IN
    # ADDITION to per-branch exchanges, not this replacement of them.)
    conds = [F.expr(
        f"({S.tile_x('_minlon', z, S.SPARK)}) = ({S.tile_x('_maxlon', z, S.SPARK)}) AND "
        f"({S.tile_y('_maxlat', z, S.SPARK)}) = ({S.tile_y('_minlat', z, S.SPARK)})")
        for z in zooms]
    bbox_cols = ("_minlon", "_maxlon", "_minlat", "_maxlat")
    if set(bbox_cols).issubset(shapes.columns):
        # r7: the extract stage already computed the all-rings bbox in
        # Python (extract.FEATURES_BBOX_SCHEMA) — the 4 interpreted HOF
        # walks below cost 91 CPU-s / 208 µs-per-feature at the bench shape
        # (the hottest JVM stage of the clip, UI stage metrics); here they
        # collapse to plain column reads. Exact same float64 values on
        # NaN-free input (validity_filter runs upstream in every pipeline).
        sel = shapes.select("feature_id", "kind", "coords", *bbox_cols)
    else:
        # fallback for bare FEATURES_SCHEMA inputs (parse_geo_features,
        # tests): relational bbox via higher-order functions
        flat = F.flatten(F.col("coords"))
        xs = F.filter(F.transform(flat, lambda v, i: F.when(i % 2 == 0, v)),
                      lambda v: v.isNotNull())
        ys = F.filter(F.transform(flat, lambda v, i: F.when(i % 2 == 1, v)),
                      lambda v: v.isNotNull())
        sel = shapes.select("feature_id", "kind", "coords",
                            F.array_min(xs).alias("_minlon"),
                            F.array_max(xs).alias("_maxlon"),
                            F.array_min(ys).alias("_minlat"),
                            F.array_max(ys).alias("_maxlat"))
    base_df = (sel
               .repartition(n_parts, "feature_id")   # ← HOF barrier + spread
               .withColumn("_zarr", F.array(*[F.lit(z).cast("int") for z in zooms]))
               .withColumn("_st", F.array(*conds)))

    # coords ship ONCE per feature (not once per zoom); per-feature fast
    # work is O(verts × |_zs|) with low variance, and the barrier exchange
    # above already hash-spread by feature_id — no further exchange needed.
    #
    # r7: the zoom lists are selected with zip_with(_zarr, _st, …) rather
    # than filter(_zarr, (z, i) -> _st[i]) — a lambda that REFERENCES _st
    # gets the whole 13-cond array inlined into the lambda body and
    # re-evaluated per element (13 × 13 = 169 interpreted trig-cond evals
    # per row, measured ~63 s on the fast branch alone); as a zip_with
    # ARGUMENT the cond array is evaluated once per row. Zooms are ≥ 0 so
    # -1 is a safe sentinel.
    fast = (base_df
            .select("feature_id", "kind", "coords",
                    F.expr("filter(zip_with(_zarr, _st, (z, s) -> if(s, z, -1)), "
                           "v -> v >= 0)").alias("_zs"))
            .filter(F.size("_zs") > 0))
    # r7: Arrow-native crossing (guide §4.2) — ring buffers decoded and
    # rebuilt as ListArray (values, offsets) pairs with zero per-row Python
    fast_out = fast.mapInArrow(
        lambda batches: (out for rb in batches
                         for out in fast_batch_arrow(rb, extent)),
        CLIP_FLAT_SCHEMA)

    # The (feature_id, _z) re-spread ships coords once per multi-tile zoom
    # (~3.4× the barrier's bytes — 143 vs 42 MB). An r7 ABBA A/B of dropping
    # it (inheriting the barrier's hash(feature_id) spread) measured −0.5 s
    # on the isolated slow branch but parity within noise (17.7 vs 18.0 s)
    # on the fused pipeline — kept for its per-(feature, zoom) granularity,
    # which bounds the straggler a single covering-heavy feature can create
    # at corpus scales where one polygon's zoom set is a whole task's work.
    slow = (base_df
            .select("feature_id", "kind", "coords",
                    F.explode(F.expr(
                        "filter(zip_with(_zarr, _st, (z, s) -> if(s, -1, z)), "
                        "v -> v >= 0)")).alias("_z"))
            .repartition(n_parts, "feature_id", "_z"))
    slow_out = slow.mapInArrow(
        lambda batches: (out for rb in batches
                         for out in slow_batch_arrow(rb, extent)),
        CLIP_FLAT_SCHEMA)
    return fast_out.unionByName(slow_out)


def clip_points_flat(points: DataFrame, zooms: list[int],
                     extent: int = K.MVT_EXTENT) -> DataFrame:
    """clip_points_relational's flat twin (CLIP_FLAT_SCHEMA) — still pure
    Spark SQL, zero Python; geom = [qx, qy], off NULL (single piece).

    r7 (guide §1.2 per-task work, same restructure as the r7
    q_tile_assign_multizoom): the per-row tile FRACTIONS
    fx = (lon+180)/360 and fy = (1 − merc/π)/2 are zoom-independent, so the
    ln/tan/cos mercator trig runs ONCE per point instead of once per zoom
    (the 13-entry struct array evaluated tile_y's transcendentals 13× and
    quantize_y's another 13×). Per zoom, x = clamp(floor(fx·n)) and
    qx = clamp(floor((fx·n − x)·extent + 0.5)) are pure arithmetic on the
    fractions. Bit-identical by construction: sqlgen.tile_x/quantize_x parse
    as ((lon+180)/360)·n, so fx·n (and fy·pow(2,z), a power of two, exact)
    is the same float64 sequence — pinned by the fixture byte-identity and
    fastpath parity pytests. The fractions are computed in a projection
    BELOW the explode, so they are attributes (not inlined copies) inside
    the generator's 13 structs."""
    pts = with_lonlat(points).select("feature_id", "lon", "lat")
    la = S.clamped_lat("lat")
    merc = f"ln(tan(radians({la})) + 1.0 / cos(radians({la})))"
    frac = pts.select(
        "feature_id",
        F.expr("((lon) + 180.0) / 360.0").alias("_fx"),
        F.expr(f"(1.0 - {merc} / pi()) / 2.0").alias("_fy"))
    entries = []
    for z in zooms:
        # r7b: BIGINT clamp bounds (floor is BIGINT in Spark; the 0.0 /
        # {n-1}.0 decimal literals ran the clamp in DECIMAL(21,1)) —
        # identical values, see sqlgen.tile_x(SPARK).
        n = 1 << z
        tx = (f"least(greatest(floor(_fx * {n}.0), CAST(0 AS BIGINT)), "
              f"CAST({n - 1} AS BIGINT))")
        ty = (f"least(greatest(floor(_fy * {n}.0), CAST(0 AS BIGINT)), "
              f"CAST({n - 1} AS BIGINT))")
        qx = (f"CAST(least(greatest(floor((_fx * pow(2.0, {z}.0) - ({tx})) "
              f"* {extent}.0 + 0.5), CAST(0 AS BIGINT)), CAST({extent} AS BIGINT)) AS INT)")
        qy = (f"CAST(least(greatest(floor((_fy * pow(2.0, {z}.0) - ({ty})) "
              f"* {extent}.0 + 0.5), CAST(0 AS BIGINT)), CAST({extent} AS BIGINT)) AS INT)")
        entries.append(F.struct(
            F.lit(z).cast("int").alias("z"),
            F.expr(tx).alias("x"),
            F.expr(ty).alias("y"),
            F.expr(qx).alias("qx"),
            F.expr(qy).alias("qy")))
    ex = frac.select("feature_id", F.explode(F.array(*entries)).alias("t"))
    return ex.select("t.z", "t.x", "t.y", "feature_id",
                     F.array("t.qx", "t.qy").cast("array<int>").alias("geom"),
                     F.lit(None).cast("array<int>").alias("off"))


def build_tile_features(features: DataFrame, zooms: list[int],
                        extent: int = K.MVT_EXTENT) -> DataFrame:
    """EP2 pipeline: features → clipped per-tile rows → MVT-equivalent lists.

    Points take the zero-Python relational path; shapes take the Arrow clip
    path. r4: the whole clip→agg pipeline runs on the FLAT transport (geom
    as one flat int array + ring offsets — no nested-array headers in Arrow
    or the shuffles); kind/props never enter any exchange — the dim joins
    BETWEEN the single agg exchange and the single full-width collect, and
    the public nested schema is rebuilt relationally there
    (tile_feature_lists_dim). The tile key rides the exchange packed into
    one bigint whenever every zoom is ≤ 29. The kind/props dim is
    broadcast when under BROADCAST_MAX_BYTES, else the join is left to
    Catalyst/AQE (plans.session.broadcast_if_small).
    Output equals tile_feature_lists over clip_points_relational ∪
    clip_shapes_reference (the nested per-row reference pipeline)."""
    # one partition count, from the input's size, for the clip and the agg
    n_parts = _n_clip_parts(features)
    pts = clip_points_flat(features.filter(F.col("kind") == "point"), zooms,
                           extent)
    shp = clip_shapes_flat(features.filter(F.col("kind") != "point"), zooms,
                           extent, n_parts=n_parts)
    dim = features.select("feature_id", "kind", "props")
    return tile_feature_lists_dim(pts.unionByName(shp), dim,
                                  pack_key=max(zooms) <= 29, n_agg=n_parts)


#: r6 packed tile key: (z,x,y) as ONE bigint through the agg exchanges.
#: The r6 byte probe (BENCH/BASELINE.md) showed exchange rows average only
#: ~5 vertices, so the FIXED per-row columns dominate the shuffled bytes:
#: in UnsafeRow terms z+x+y cost 24 bytes/row where one long costs 8.
#: Valid for z ≤ 29 (6-bit z, 29-bit x/y — beyond any web-tile zoom);
#: build_tile_features guards on max(zooms).
_TXY_PACK = "(CAST(z AS BIGINT) << 58) | (x << 29) | y"
_TXY_MASK = (1 << 29) - 1


def tile_feature_lists_dim(clipped: DataFrame, dim: DataFrame,
                           pack_key: bool | None = None,
                           n_agg: int | None = None) -> DataFrame:
    """A1/A2 with the props dim joined AFTER the last exchange: kind/props
    never enter ANY shuffle, and there is exactly ONE full-width collect.

    Shape (r7): ONE exchange — repartition(n, key) → kind/props dim join
    + relational geom re-nesting (both preserve the hash(key)
    partitioning, so the final groupBy adds NO exchange) → single sorted
    full collect. No salt: a salted two-phase shape [partial collect per
    (key,salt) → second exchange → EXPLODE partials back to rows] spreads
    nothing that stays spread here, because the nest/join/sort run per ROW
    after the second exchange, in one task per hot tile either way (r7, agg
    phase at the bench shape: 15.2 s salted against 10.0 s for this shape).

    ``pack_key`` (requires z ≤ 29; None packs too, behind an in-plan z
    guard): the tile key through the exchange is ONE packed bigint instead of
    (z int, x, y bigint) — −16 UnsafeRow bytes on every exchange row, with
    the unpack a post-agg projection on one row per TILE (so partitioning
    propagation never sees the unpacked columns and no exchange is added).
    The dim is broadcast when its plan is at most BROADCAST_MAX_BYTES
    (plans.session.broadcast_if_small); a larger dim is left unhinted and
    Catalyst/AQE pick the join, which adds that join's exchanges only.
    ``n_agg`` is the exchange's partition count (default: clip_parts of
    ``clipped``; build_tile_features passes its clip's count).
    """
    # r7 (ADVICE r6): a direct caller with z > 29 used to get silently
    # corrupted packed keys (x bits overflow into the z field). When the
    # caller did NOT certify the zoom range by passing pack_key explicitly
    # (build_tile_features passes max(zooms) <= 29), the pack expression
    # carries an in-plan guard — one int compare per row — that raises
    # instead of corrupting.
    guarded = pack_key is None
    if pack_key is None:
        pack_key = True
    d = broadcast_if_small(dim.select("feature_id", "kind", "props"))
    # scale-proportional and AQE-exempt, sized like the clip
    if n_agg is None:
        n_agg = _n_clip_parts(clipped)

    keys = ["_txy"] if pack_key else ["z", "x", "y"]
    pack_expr = (_TXY_PACK if not guarded else
                 "(CAST(IF(z <= 29, z, CAST(raise_error("
                 "'tile_feature_lists_dim: packed tile key requires z <= 29; "
                 "pass pack_key=False for deeper zooms') AS INT)) AS BIGINT) "
                 "<< 58) | (x << 29) | y")
    src = (clipped.select(F.expr(pack_expr).alias("_txy"),
                          "feature_id", "geom", "off")
           if pack_key else clipped)

    full = (nest_geom(src.repartition(n_agg, *keys))
            .join(d, "feature_id", "left")
            .select(*keys,
                    F.struct("feature_id", "kind", "geom", "props").alias("f")))
    agged = (full.groupBy(*keys)
             .agg(_by_fid(F.collect_list("f")).alias("features"))
             .withColumn("n_features", F.size("features")))
    if not pack_key:
        return agged
    # unpack on one row per TILE, after the last exchange and agg
    return agged.select(
        F.expr("CAST(shiftright(_txy, 58) AS INT)").alias("z"),
        F.expr(f"shiftright(_txy, 29) & {_TXY_MASK}").alias("x"),
        F.expr(f"_txy & {_TXY_MASK}").alias("y"),
        "features", "n_features")


def tile_feature_lists(clipped: DataFrame, salt: int = 0) -> DataFrame:
    """A1/A2: per-tile deterministic sorted feature list (MVT-equivalent).

    salt > 0 → two-phase: agg by (z,x,y,salt buckets) first, then flatten and
    re-sort — bounds any single reducer's list size on hot city tiles
    (``BASELINE.json:6,14``; collect_list has no partial-merge, SURVEY §4.2).
    (Nested-schema variant for CLIP_SCHEMA inputs — the reference pipeline;
    build_tile_features uses tile_feature_lists_dim.)
    """
    feat = F.struct(
        F.col("feature_id"), F.col("kind"), F.col("geom"), F.col("props"))

    by_fid = _by_fid

    if salt <= 1:
        return (clipped
                .groupBy("z", "x", "y")
                .agg(by_fid(F.collect_list(feat)).alias("features"))
                .withColumn("n_features", F.size("features")))
    # Explicit repartition on the salted agg keys BEFORE grouping: without
    # it Spark fuses the partial collect_list into the upstream Python clip
    # stage, and the JVM's list buffering/GC contends with the full-core
    # Arrow workers (measured: decoupling cut the fused pipeline ~15% at
    # local[32] and removes nothing — partial collect_list doesn't shrink
    # the shuffle anyway, it only concatenates).
    #
    # EXPLICIT partition counts on BOTH exchanges: a bare repartition(keys)
    # (and the final agg's exchange) is AQE-coalescible to a SIZE-based
    # count — the same count at any core count, so the agg stops scaling
    # entirely (r3 phase profile: 45.5 s @ local[8] vs 48.3 s @ local[32]).
    # A user-specified numPartitions is exempt from AQE coalescing; deriving
    # it from shuffle_partitions keeps parallelism ∝ cores.
    n_agg = shuffle_parts(clipped.sparkSession)
    two = (clipped
           .withColumn("_salt", F.pmod(F.hash("feature_id"), F.lit(salt)))
           .repartition(n_agg * 2, "z", "x", "y", "_salt")
           .groupBy("z", "x", "y", "_salt")
           .agg(F.collect_list(feat).alias("_part")))
    return (two.repartition(n_agg, "z", "x", "y")
            .groupBy("z", "x", "y")
            .agg(by_fid(F.flatten(F.collect_list("_part"))).alias("features"))
            .withColumn("n_features", F.size("features")))
