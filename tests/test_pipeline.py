"""Integration tests: SURVEY.md §5 layers 2-3 (invariants + golden fixtures).

Run with a shared local[8] session (conftest). The contracts tested here are
the spec's exact-match requirements (``BASELINE.json:2,6,15``):
byte-identical extracted text, deterministic tile assignments under any
parallelism, clip containment, join-output equality vs brute-force oracles,
checkpoint-resume idempotence.
"""

import contextlib
import io
import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from tile_gen_spark.operators import spatial_join as SJ
from tile_gen_spark.plans import session as session_module


@contextlib.contextmanager
def over_broadcast_cutoff(spark):
    """BROADCAST_MAX_BYTES below every size, so every broadcast_if_small
    input (and pip_join's zone side) is over the cutoff, and Catalyst's own
    size threshold off: dim-side joins built and run inside run as shuffle
    joins."""
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    with pytest.MonkeyPatch.context() as mp:
        for module in (session_module, SJ):
            mp.setattr(module, "BROADCAST_MAX_BYTES", -1)
        spark.conf.set(conf, "-1")
        try:
            yield
        finally:
            spark.conf.set(conf, old)


def n_broadcast_hints(df) -> int:
    """Broadcast hints in df's optimized logical plan."""
    return df._jdf.queryExecution().optimizedPlan().toString().count(
        "strategy=broadcast")


def _canon_tiles(df):
    """Per-tile feature lists → {(z, x, y): ((fid, kind, geom, props), …)}."""
    return {(r["z"], r["x"], r["y"]): tuple(
        (f["feature_id"], f["kind"], tuple(tuple(p) for p in f["geom"]),
         tuple(sorted((f["props"] or {}).items())))
        for f in r["features"]) for r in df.collect()}


def test_extract_byte_identity(spark, pages):
    from tile_gen_spark.operators.extract import extract_text
    chk = pages.withColumn("etext", extract_text("html"))
    assert chk.filter(F.col("etext") != F.col("text")).count() == 0
    # sha256 equality form of the same contract
    sha = chk.select(F.sha2("text", 256).alias("a"), F.sha2("etext", 256).alias("b"))
    assert sha.filter(F.col("a") != F.col("b")).count() == 0


def test_corpus_partition_invariance(spark, pages):
    from tile_gen_spark.sources.synth import gen_pages
    p2 = gen_pages(spark, 600, seed=42, parallelism=3)
    assert pages.select("url", "text", "lang").exceptAll(
        p2.select("url", "text", "lang")).count() == 0


def test_assignment_determinism_across_partitioning(spark, features):
    from tile_gen_spark.operators.tiles import assign_features
    a1 = assign_features(features.repartition(1), [3, 9])
    a2 = assign_features(features.repartition(16), [3, 9])
    assert a1.exceptAll(a2).count() == 0 and a2.exceptAll(a1).count() == 0
    assert a1.count() > 0


def test_point_assignment_matches_kernel(spark, features):
    """Relational G2 SQL == numpy kernel, bit for bit."""
    from tile_gen_spark.operators.tiles import assign_points, with_lonlat
    from tile_gen_spark.functions import kernels as K
    pts = features.filter("kind = 'point'")
    rel = assign_points(pts, [12]).toPandas()
    raw = with_lonlat(pts).select("feature_id", "lon", "lat").toPandas()
    kx, ky = K.point_to_tile(raw["lon"].to_numpy(), raw["lat"].to_numpy(), 12)
    kern = {(f, 12, x, y) for f, x, y in zip(raw["feature_id"], kx, ky)}
    got = {tuple(r) for r in rel[["feature_id", "z", "x", "y"]].values.tolist()}
    assert got == kern


def test_clip_containment_and_tile_lists(spark, features):
    from tile_gen_spark.operators.tiles import (build_tile_features,
                                                clip_points_relational,
                                                clip_shapes_direct)
    zooms = [2, 6, 10]
    pts = clip_points_relational(features.filter("kind='point'"), zooms)
    shp = clip_shapes_direct(features.filter("kind!='point'"), zooms)
    allc = pts.unionByName(shp)
    mm = allc.select(
        F.min(F.array_min(F.flatten("geom"))).alias("lo"),
        F.max(F.array_max(F.flatten("geom"))).alias("hi")).first()
    assert mm["lo"] >= 0 and mm["hi"] <= 4096

    tiles = build_tile_features(features, zooms).cache()
    assert tiles.filter(F.col("n_features") != F.size("features")).count() == 0
    # per-tile lists sorted by feature_id (determinism contract)
    unsorted = tiles.filter(F.exists(
        F.zip_with(F.col("features"), F.slice(F.col("features"), 2, 100000),
                   lambda a, b: a.feature_id > b.feature_id), lambda v: v))
    assert unsorted.count() == 0


def test_salted_agg_equals_unsalted(spark, features):
    """The nested reference's salted two-phase agg (per (z,x,y,salt) partial
    lists, then flatten and re-sort) returns the unsalted agg's feature
    lists exactly — tile for tile, feature for feature."""
    from tile_gen_spark.operators.tiles import (clip_points_relational,
                                                clip_shapes_reference,
                                                tile_feature_lists)
    zooms = [5]
    nested = clip_points_relational(
        features.filter(F.col("kind") == "point"), zooms).unionByName(
        clip_shapes_reference(features.filter(F.col("kind") != "point"), zooms))
    t0 = _canon_tiles(tile_feature_lists(nested, salt=0))
    t4 = _canon_tiles(tile_feature_lists(nested, salt=4))
    assert len(t0) > 20
    assert max(len(fs) for fs in t0.values()) > 1   # some list is merged
    assert t0 == t4


def test_pip_join_matches_bruteforce(spark):
    from tile_gen_spark.sources.synth import gen_zones, gen_pages
    from tile_gen_spark.operators.spatial_join import pip_join
    from tile_gen_spark.functions import kernels as K

    zones = gen_zones(spark, 40, seed=7).cache()
    pts = (spark.range(500)
           .select(F.col("id").alias("point_id"),
                   (F.pmod(F.hash(F.col("id")), F.lit(340000000)) / 1000000.0 - 170.0).alias("lon"),
                   (F.pmod(F.hash(F.col("id") + 99), F.lit(140000000)) / 1000000.0 - 70.0).alias("lat"))
           .cache())
    got = {(r["point_id"], r["zone_id"])
           for r in pip_join(pts, zones, res=5).collect()}
    # brute-force numpy oracle
    zp = zones.toPandas()
    pp = pts.toPandas()
    want = set()
    for _, zrow in zp.iterrows():
        ring = np.asarray(zrow["ring"], dtype=np.float64)
        inside = K.points_in_ring(pp["lon"].to_numpy(), pp["lat"].to_numpy(), ring)
        for pid in pp["point_id"].to_numpy()[inside]:
            want.add((int(pid), int(zrow["zone_id"])))
    assert got == want and len(want) > 0


def test_knn_geo_matches_bruteforce(spark):
    from tile_gen_spark.operators.knn import knn_geo, knn_geo_bruteforce
    q = (spark.range(40).select(
        F.col("id").alias("query_id"),
        ((F.hash(F.col("id") + 7) % 20000000) / 1000000.0 + 10.0).alias("lon"),
        ((F.hash(F.col("id") + 13) % 10000000) / 1000000.0 + 45.0).alias("lat"))).cache()
    c = (spark.range(300).select(
        F.col("id").alias("cand_id"),
        ((F.hash(F.col("id") + 3) % 20000000) / 1000000.0 + 10.0).alias("lon"),
        ((F.hash(F.col("id") + 5) % 10000000) / 1000000.0 + 45.0).alias("lat"))).cache()
    a = knn_geo(q, c, k=3, res=4, kring=2).select("query_id", "neighbor_id", "rank")
    b = knn_geo_bruteforce(q, c, k=3).select("query_id", "neighbor_id", "rank")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() == 40 * 3
    # Fine cells / tight ring (kring=1, k=1 at res 5): the round-1 count-based
    # gate provably returned wrong neighbors here (an in-ring candidate beat a
    # nearer out-of-ring one); the distance-bound gate must match brute force.
    a1 = knn_geo(q, c, k=1, res=5, kring=1).select("query_id", "neighbor_id", "rank")
    b1 = knn_geo_bruteforce(q, c, k=1).select("query_id", "neighbor_id", "rank")
    assert a1.exceptAll(b1).count() == 0 and b1.exceptAll(a1).count() == 0
    a2 = knn_geo(q, c, k=2, res=6, kring=1).select("query_id", "neighbor_id", "rank")
    b2 = knn_geo_bruteforce(q, c, k=2).select("query_id", "neighbor_id", "rank")
    assert a2.exceptAll(b2).count() == 0 and b2.exceptAll(a2).count() == 0


def test_parse_span_multi_ring():
    from tile_gen_spark.operators.extract import _GEO_RE, _parse_span
    m = next(_GEO_RE.finditer(
        "@@geo poly 0 0; 1 0; 1 1; 0 1 | 0.2 0.2; 0.8 0.2; 0.8 0.8; 0.2 0.8@@"))
    kind, rings = _parse_span(m)
    assert kind == "polygon" and len(rings) == 2
    assert rings[0] == [0, 0, 1, 0, 1, 1, 0, 1]
    assert len(rings[1]) == 8
    # '|' is polygon-only
    m2 = next(_GEO_RE.finditer("@@geo line 0 0; 1 1 | 2 2; 3 3@@"))
    assert _parse_span(m2) is None


def _decoded_polygon_rings(mvt_bytes):
    from tile_gen_spark.operators import mvt
    out = []
    for f in mvt.decode_tile(bytes(mvt_bytes))["layers"][0]["features"]:
        if f["type"] == 3:
            out.append(mvt.decode_geometry(f["geometry"]))
    return out


def _shoelace(ring):
    s = 0
    for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
        s += x1 * y2 - x2 * y1
    return s / 2.0


def test_donut_polygon_end_to_end(spark):
    """Holes survive parse→clip→quantize→MVT, with MVT 2.1 §4.3.3.3 winding:
    exterior positive shoelace area ON THE WIRE, holes negative — both on the
    single-tile fast path (z3) and the cross-tile clip path (z6)."""
    import math
    from tile_gen_spark.operators.mvt import encode_tiles
    from tile_gen_spark.operators.tiles import clip_shapes_direct, tile_feature_lists

    # on a z6 lon tile boundary → cross-tile clip; lat 37..39 sits strictly
    # between the z3/z6 mercator row boundaries (36.55°, 40.98°) → no y split
    cx, cy_ = 11.25, 38.0
    ang = [2 * math.pi * i / 8 for i in range(8)]
    ext = [v for a in ang for v in (cx + 1.0 * math.cos(a), cy_ + 1.0 * math.sin(a))]
    hole = [v for a in ang for v in (cx + 0.35 * math.cos(a), cy_ + 0.35 * math.sin(a))]
    feats = spark.createDataFrame(
        [(1, "polygon", [ext, hole], {"n": "donut"})],
        "feature_id bigint, kind string, coords array<array<double>>, props map<string,string>")
    tf = tile_feature_lists(clip_shapes_direct(feats, [3, 6]))
    rows = encode_tiles(tf).collect()
    by_z = {}
    for r in rows:
        by_z.setdefault(r["z"], []).append(r)
    assert len(by_z[3]) == 1 and len(by_z[6]) >= 2
    n_holes = 0
    for r in rows:
        for rings in _decoded_polygon_rings(r["mvt"]):
            assert _shoelace(rings[0]) > 0, f"exterior not CW-on-wire in z{r['z']}"
            for h in rings[1:]:
                assert _shoelace(h) < 0
                n_holes += 1
    # fast path keeps the hole; each z6 half keeps its clipped hole piece
    z3_rings = _decoded_polygon_rings(by_z[3][0]["mvt"])[0]
    assert len(z3_rings) == 2
    assert n_holes >= 3


def test_raster_roundtrip_on_tiles(spark, features):
    from tile_gen_spark.operators.tiles import clip_shapes_direct
    from tile_gen_spark.operators.raster import (raster_roundtrip_check,
                                                 rasterize_tiles,
                                                 vectorize_tiles)
    clipped = clip_shapes_direct(features.filter("kind = 'polygon'"), [4])
    chk = raster_roundtrip_check(clipped, width=64, height=64).cache()
    assert chk.count() > 0
    assert chk.filter(F.col("mass") != F.col("mass_rt")).count() == 0
    # the vectorize-back operator emits, per tile, the rings the check traced
    rings = vectorize_tiles(rasterize_tiles(clipped, width=64, height=64),
                            width=64, height=64)
    got = {(r["z"], r["x"], r["y"]): r["count"]
           for r in rings.groupBy("z", "x", "y").count().collect()}
    want = {(r["z"], r["x"], r["y"]): r["n_rings"]
            for r in chk.filter("n_rings > 0").collect()}
    assert len(want) > 0
    assert got == want


def test_checkpoint_resume(spark, features):
    from tile_gen_spark.operators.checkpoint import run_tile_job
    with tempfile.TemporaryDirectory() as td:
        out = os.path.join(td, "tiles")
        man = os.path.join(td, "manifest")
        s1 = run_tile_job(spark, features, out, man, [2, 3])
        assert s1["zooms_run"] == 2 and s1["zooms_skipped"] == 0
        s2 = run_tile_job(spark, features, out, man, [2, 3, 4])
        assert s2["zooms_run"] == 1 and s2["zooms_skipped"] == 2
        got = spark.read.parquet(out)
        assert sorted(r["z"] for r in got.select("z").distinct().collect()) == [2, 3, 4]
        mani = spark.read.parquet(man)
        assert mani.filter("output_rows <= 0").count() == 0
        assert set(mani.select("stage").distinct().toPandas()["stage"]) == {"tiles"}
        # zoom summary rows (partition_id = -1) carry the real pre-sink input
        summ = mani.filter("partition_id = -1")
        assert summ.select("z").distinct().count() == 3
        assert summ.filter("input_rows IS NULL").count() == 0
        assert mani.filter("partition_id >= 0 AND input_rows IS NOT NULL").count() == 0


def test_checkpoint_empty_zoom_not_rerun(spark):
    """A zoom that produces zero tiles still commits a sentinel manifest row,
    so resume does NOT re-run it forever (ADVICE round 1)."""
    from tile_gen_spark.operators.checkpoint import run_tile_job
    empty = spark.createDataFrame(
        [], "feature_id bigint, kind string, coords array<array<double>>, "
            "props map<string,string>")
    with tempfile.TemporaryDirectory() as td:
        out = os.path.join(td, "tiles")
        man = os.path.join(td, "manifest")
        s1 = run_tile_job(spark, empty, out, man, [2])
        assert s1 == {"zooms_run": 1, "zooms_skipped": 0, "tiles": 0}
        s2 = run_tile_job(spark, empty, out, man, [2])
        assert s2["zooms_run"] == 0 and s2["zooms_skipped"] == 1


def test_streaming_incremental(spark, pages):
    from tile_gen_spark.streaming.incremental import incremental_tiles
    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "pages")
        out = os.path.join(td, "tiles")
        ck = os.path.join(td, "ck")
        pages.limit(100).write.parquet(src)
        q = incremental_tiles(spark, src, out, ck, [3])
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        assert got.count() > 0
        assert got.select("batch_id").distinct().count() >= 1


def test_stateful_stream_dedup(spark):
    """§2.10d: dropDuplicatesWithinWatermark suppresses recrawls of the same
    url arriving within the watermark, end-to-end through a real stream."""
    import datetime as dt
    from tile_gen_spark.streaming.incremental import dedup_stream
    from tile_gen_spark.sources.synth import PAGES_SCHEMA
    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = []
    for i in range(50):
        url = f"https://h.example/p{i}"
        rows.append((url, base + dt.timedelta(minutes=i), b"<html></html>", "t", "en"))
        if i % 5 == 0:  # recrawl 20 minutes later — inside the 2h watermark
            rows.append((url, base + dt.timedelta(minutes=i + 20), b"<html>2</html>", "t2", "en"))
    df = spark.createDataFrame(rows, PAGES_SCHEMA)
    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "src")
        ck = os.path.join(td, "ck")
        df.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
        q = (dedup_stream(stream).writeStream.format("memory")
             .queryName("dedup_out").outputMode("append")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        out = spark.sql("SELECT url FROM dedup_out")
        assert out.count() == 50
        assert out.distinct().count() == 50


def test_streaming_windows_batch_shape(spark):
    from tile_gen_spark.streaming.incremental import windowed_event_counts, sessionized_events
    ev = spark.createDataFrame(
        [("2026-01-01 00:01:00", "click", 1.0, 1),
         ("2026-01-01 00:05:00", "click", 2.0, 1),
         ("2026-01-01 00:25:00", "view", 3.0, 2)],
        "ts_s string, event_type string, value double, user_id bigint"
    ).select(F.to_timestamp("ts_s").alias("ts"), "event_type", "value", "user_id")
    w = windowed_event_counts(ev, "10 minutes").collect()
    assert {(r["event_type"], r["n_events"]) for r in w} == {("click", 2), ("view", 1)}
    s = sessionized_events(ev, "30 minutes").collect()
    assert {(r["user_id"], r["n_events"]) for r in s} == {(1, 2), (2, 1)}


def test_fused_extract_parse_equivalence(spark, pages, features):
    from tile_gen_spark.operators.extract import extract_and_parse, latest_per_url, validity_filter

    def cmp_form(df):  # set ops reject MAP columns → serialize props
        return df.withColumn("props", F.to_json("props"))

    fused_df = validity_filter(extract_and_parse(latest_per_url(pages)))
    # r7: extract_and_parse additionally carries the python-computed bbox
    # (FEATURES_BBOX_SCHEMA); the parse CONTENT must stay identical on the
    # shared columns, and the bbox must equal the relational min/max
    bbox = fused_df.select(
        "feature_id", "_minlon", "_maxlon", "_minlat", "_maxlat",
        F.expr("array_min(filter(transform(flatten(coords), "
               "(v, i) -> if(i % 2 = 0, v, null)), v -> v IS NOT NULL))").alias("mn"),
        F.expr("array_max(filter(transform(flatten(coords), "
               "(v, i) -> if(i % 2 = 0, v, null)), v -> v IS NOT NULL))").alias("mx"),
        F.expr("array_min(filter(transform(flatten(coords), "
               "(v, i) -> if(i % 2 = 1, v, null)), v -> v IS NOT NULL))").alias("my0"),
        F.expr("array_max(filter(transform(flatten(coords), "
               "(v, i) -> if(i % 2 = 1, v, null)), v -> v IS NOT NULL))").alias("my1"))
    bad = bbox.filter(
        (F.col("_minlon") != F.col("mn")) | (F.col("_maxlon") != F.col("mx"))
        | (F.col("_minlat") != F.col("my0")) | (F.col("_maxlat") != F.col("my1")))
    assert bad.count() == 0
    fused = cmp_form(fused_df.select(*features.columns))
    base = cmp_form(features)
    assert fused.exceptAll(base).count() == 0
    assert base.exceptAll(fused).count() == 0


def test_latest_per_url_bjoin_matches_window(spark, pages, monkeypatch):
    """r7: the broadcast-join-back latest_per_url (default) must return the
    EXACT row set of the pre-r7 window path on the snapshot corpus (which
    pins unique (url, warc_ts) — the documented requirement of the fast
    mode), and its plan must keep the html payload out of every Exchange."""
    import re
    from tile_gen_spark.operators import extract as X

    monkeypatch.setenv("TILEGEN_LATEST_MODE", "window")
    win = X.latest_per_url(pages).withColumn("h", F.xxhash64("html")).drop("html")
    monkeypatch.setenv("TILEGEN_LATEST_MODE", "bjoin")
    bj = X.latest_per_url(pages).withColumn("h", F.xxhash64("html")).drop("html")
    assert win.exceptAll(bj).count() == 0
    assert bj.exceptAll(win).count() == 0

    jvm = spark._jvm
    out = X.latest_per_url(pages)
    plan = jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    for m in re.finditer(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan):
        assert "html" not in m.group(1), m.group(1)


def test_latest_per_url_shuffle_join_over_cutoff(spark, pages):
    """Over BROADCAST_MAX_BYTES the per-url decision table is not hinted,
    and with autoBroadcastJoinThreshold=-1 the join back is a shuffle join;
    its rows equal the default broadcast plan's. (The exact-duplicate fault
    and TILEGEN_LATEST_MODE are ROADMAP direction 5's own change.)"""
    from tile_gen_spark.operators.extract import latest_per_url

    def rows(df):
        return sorted(df.withColumn("h", F.xxhash64("html")).drop("html")
                      .collect())

    default = latest_per_url(pages)
    assert n_broadcast_hints(default) == 1
    want = rows(default)
    with over_broadcast_cutoff(spark):
        big = latest_per_url(pages)
        assert n_broadcast_hints(big) == 0
        plan = spark._jvm.PythonSQLUtils.explainString(
            big._jdf.queryExecution(), "formatted")
        assert "Broadcast" not in plan and "SortMergeJoin" in plan, plan
        got = rows(big)
    assert len(want) > 100
    assert got == want


def test_mvt_encode_tiles_spark(spark, features):
    from tile_gen_spark.operators.tiles import build_tile_features
    from tile_gen_spark.operators.mvt import encode_tiles, decode_tile
    tiles = build_tile_features(features, [4])
    enc = encode_tiles(tiles).cache()
    assert enc.filter("mvt IS NULL OR length(mvt) = 0").count() == 0
    row = enc.orderBy(F.desc("n_features")).first()
    decoded = decode_tile(bytes(row["mvt"]))
    layer = decoded["layers"][0]
    assert layer["version"] == 2 and layer["extent"] == 4096
    assert len(layer["features"]) == row["n_features"]


def test_mvt_tree_sink(spark, features, tmp_path):
    """r6 (VERDICT r5 #5): write_mvt_tree lays encoded tiles out as
    out/z/x/y.mvt; every written file is byte-identical to its column, the
    reported counts match, and no stray tmp files survive."""
    import os
    from tile_gen_spark.operators.tiles import build_tile_features
    from tile_gen_spark.operators.mvt import encode_tiles, write_mvt_tree

    enc = encode_tiles(build_tile_features(features, [4])).cache()
    out = str(tmp_path / "tree")
    res = write_mvt_tree(enc, out)
    rows = enc.collect()
    assert res["n_tiles"] == len(rows)
    assert res["n_bytes"] == sum(len(bytes(r["mvt"])) for r in rows)
    on_disk = []
    for root, _dirs, files in os.walk(out):
        for f in files:
            assert not f.endswith(".tmp"), f
            on_disk.append(os.path.join(root, f))
    assert len(on_disk) == len(rows)
    for r in rows:  # every tile byte-identical to its column
        p = os.path.join(out, str(r["z"]), str(r["x"]), f"{r['y']}.mvt")
        with open(p, "rb") as f:
            assert f.read() == bytes(r["mvt"])


def test_zoom_density_grouped_agg(spark, features):
    from tile_gen_spark.operators.tiles import clip_shapes_direct
    from tile_gen_spark.operators.raster import rasterize_tiles, zoom_density_stats
    clipped = clip_shapes_direct(features.filter("kind = 'polygon'"), [3, 5])
    stats = zoom_density_stats(rasterize_tiles(clipped, 32, 32)).collect()
    assert {r["z"] for r in stats} == {3, 5}
    assert all(r["mean_mass"] >= 0 for r in stats)


def test_pip_join_shuffle_and_indexed_paths(spark):
    """pip_join paths vs the numpy oracle: the zone side over
    BROADCAST_MAX_BYTES (r4: shuffle bucket and per-edge joins + the SAME
    relational parity refine — no broadcast hint, and no Python node on the
    candidate side), and refine='indexed': closure-held rings under the
    cutoff, the relational refine over it."""
    from tile_gen_spark.sources.synth import gen_zones
    from tile_gen_spark.operators.spatial_join import pip_join
    from tile_gen_spark.functions import kernels as K

    zones = gen_zones(spark, 40, seed=7).cache()
    pts = (spark.range(500)
           .select(F.col("id").alias("point_id"),
                   (F.pmod(F.hash(F.col("id")), F.lit(340000000)) / 1000000.0 - 170.0).alias("lon"),
                   (F.pmod(F.hash(F.col("id") + 99), F.lit(140000000)) / 1000000.0 - 70.0).alias("lat"))
           .cache())
    zp = zones.toPandas()
    pp = pts.toPandas()
    want = set()
    for _, zrow in zp.iterrows():
        ring = np.asarray(zrow["ring"], dtype=np.float64)
        inside = K.points_in_ring(pp["lon"].to_numpy(), pp["lat"].to_numpy(), ring)
        for pid in pp["point_id"].to_numpy()[inside]:
            want.add((int(pid), int(zrow["zone_id"])))
    assert len(want) > 0

    def pairs(df):
        return {(r["point_id"], r["zone_id"]) for r in df.collect()}

    def point_side_python(df) -> bool:
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple")
        return any("MapInPandas" in l and "point_id" in l
                   for l in plan.splitlines())

    indexed = pip_join(pts, zones, res=5, refine="indexed")
    assert point_side_python(indexed)
    assert pairs(indexed) == want
    with over_broadcast_cutoff(spark):
        indexed = pip_join(pts, zones, res=5, refine="indexed")
        assert not point_side_python(indexed)
        assert pairs(indexed) == want
        shuffle_rel = pip_join(pts, zones, res=5)
        assert n_broadcast_hints(shuffle_rel) == 0
        assert pairs(shuffle_rel) == want
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            shuffle_rel.explain()  # simple mode: each physical node once
    plan = buf.getvalue()
    # zone dim prep (zones_covering_quadkeys' MapInArrow over zone_id+ring /
    # the cached synth source's MapInPandas) are the only allowed Arrow
    # stages; the candidate-side refine must be pure codegen — no pandas
    # node may touch point rows
    assert "SortMergeJoin" in plan and "Broadcast" not in plan, plan
    assert plan.count("ArrowEvalPython") + plan.count("BatchEvalPython") == 0, plan
    assert not point_side_python(shuffle_rel), plan
    assert "HashAggregate" in plan  # the per-edge parity agg is relational


def test_pip_join_rejects_unknown_refine(spark):
    from tile_gen_spark.operators.spatial_join import pip_join
    pts = spark.range(1).select(F.col("id").alias("point_id"),
                                F.lit(0.5).alias("lon"), F.lit(0.5).alias("lat"))
    zones = spark.createDataFrame([(1, [0.0, 0.0, 1.0, 0.0, 1.0, 1.0])],
                                  "zone_id bigint, ring array<double>")
    with pytest.raises(ValueError, match="refine"):
        pip_join(pts, zones, refine="pandas")


def test_pip_join_bbox_prelude(spark):
    """bbox prelude: pip_join(bbox=...) == pip_join over pre-filtered points."""
    from tile_gen_spark.sources.synth import gen_zones
    from tile_gen_spark.operators.spatial_join import pip_join, bbox_filter

    zones = gen_zones(spark, 20, seed=7).cache()
    pts = (spark.range(400)
           .select(F.col("id").alias("point_id"),
                   (F.pmod(F.hash(F.col("id")), F.lit(340000000)) / 1000000.0 - 170.0).alias("lon"),
                   (F.pmod(F.hash(F.col("id") + 99), F.lit(140000000)) / 1000000.0 - 70.0).alias("lat")))
    box = (-60.0, -30.0, 60.0, 30.0)
    a = {(r["point_id"], r["zone_id"])
         for r in pip_join(pts, zones, res=5, bbox=box).collect()}
    b = {(r["point_id"], r["zone_id"])
         for r in pip_join(bbox_filter(pts, *box), zones, res=5).collect()}
    assert a == b


def test_knn_geo_nonbroadcast_fallback(spark):
    """broadcast_index=False with a fallback-triggering config (fine res,
    sparse candidates → most queries fail the coverage gate): the iterative
    kRing expansion + distributed-cartesian residual must equal brute force
    (VERDICT r2 #4 — the old fallback broadcast the whole candidate set)."""
    from tile_gen_spark.operators.knn import knn_geo, knn_geo_bruteforce
    q = (spark.range(30).select(
        F.col("id").alias("query_id"),
        ((F.hash(F.col("id") + 7) % 20000000) / 1000000.0 + 10.0).alias("lon"),
        ((F.hash(F.col("id") + 13) % 10000000) / 1000000.0 + 45.0).alias("lat"))).cache()
    c = (spark.range(25).select(
        F.col("id").alias("cand_id"),
        ((F.hash(F.col("id") + 3) % 20000000) / 1000000.0 + 10.0).alias("lon"),
        ((F.hash(F.col("id") + 5) % 10000000) / 1000000.0 + 45.0).alias("lat"))).cache()
    a = knn_geo(q, c, k=3, res=6, kring=1, broadcast_index=False).select(
        "query_id", "neighbor_id", "rank")
    b = knn_geo_bruteforce(q, c, k=3).select("query_id", "neighbor_id", "rank")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() == 30 * 3


def test_ann_recall_floors(spark):
    """The rows-only ANN entries can now FAIL driver-visibly: the returned
    row is filtered to recall_ok (LSH >= 80, IVF >= 75), so a recall collapse
    yields 0 rows at the driver's sf0.01. Measured: LSH 100.0, IVF 86.0
    (near-uniform synthetic embeddings — the IVF worst case)."""
    import __spark_entry__ as E
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    if not os.path.isdir(sf):
        pytest.skip(f"driver testdata dir {sf} not present on this machine")
    lsh = E._run_ann_lsh(spark, sf).first()
    ivf = E._run_ann_ivf(spark, sf).first()
    assert lsh is not None and lsh["recall_ok"], \
        f"LSH recall breached floor {E.ANN_LSH_RECALL_FLOOR} (row={lsh})"
    assert ivf is not None and ivf["recall_ok"], \
        f"IVF recall breached floor {E.ANN_IVF_RECALL_FLOOR} (row={ivf})"


def test_clip_shapes_fastpath_parity(spark, features):
    """Production shape clip (clip_shapes_direct: Arrow single-tile and
    multi-tile passes + relational nesting) == the per-row reference loop
    (clip_shapes_reference), row-for-row over the synthetic corpus at z0-12
    — donuts, multi-tile polygons, lines, quantize-degenerate rings
    included."""
    from tile_gen_spark.operators.tiles import (clip_shapes_direct,
                                                clip_shapes_reference)

    shp = features.filter(F.col("kind") != "point").cache()
    zooms = list(range(0, 13))

    def canon(df):
        out = set()
        for r in df.collect():
            geom = tuple(tuple(p) for p in r["geom"])
            props = tuple(sorted((r["props"] or {}).items()))
            out.add((r["z"], r["x"], r["y"], r["feature_id"], r["kind"],
                     geom, props))
        return out

    ref = canon(clip_shapes_reference(shp, zooms))
    new = canon(clip_shapes_direct(shp, zooms))
    assert len(ref) > 1000
    missing = ref - new
    extra = new - ref
    assert not missing and not extra, (
        f"fastpath diverged: {len(missing)} missing, {len(extra)} extra; "
        f"sample missing={list(missing)[:2]}, extra={list(extra)[:2]}")


def test_run_tile_job_mvt_sink(spark, features, tmp_path):
    """EP1 + S7: run_tile_job(mvt=True, split_layers=True) writes decodable
    MVT 2.1 bytes per tile, layers split by geometry kind."""
    from tile_gen_spark.operators.checkpoint import run_tile_job
    from tile_gen_spark.operators import mvt as M

    out = str(tmp_path / "tiles")
    man = str(tmp_path / "manifest")
    stats = run_tile_job(spark, features, out, man, [3], salt=2,
                         mvt=True, split_layers=True)
    assert stats["zooms_run"] == 1 and stats["tiles"] > 0
    df = spark.read.parquet(out + "/z=3")
    row = df.orderBy(F.desc("n_features")).first()
    layers = M.decode_tile(bytes(row["mvt"]))["layers"]
    assert len(layers) >= 1
    assert all(l["name"].startswith("features_") for l in layers)
    n = sum(len(l["features"]) for l in layers)
    assert n == row["n_features"]


def test_flat_pipeline_equals_reference_nested(spark, features):
    """r4 flat transport end-to-end: build_tile_features (flat clip -> one
    agg exchange -> dim join + nest + collect) == the fully nested per-row
    reference pipeline (tile_feature_lists over clip_points_relational ∪
    clip_shapes_reference), tile-for-tile and feature-for-feature —
    geometry ints, ring nesting, kind and props all identical."""
    from tile_gen_spark.operators.tiles import (build_tile_features,
                                                clip_points_relational,
                                                clip_shapes_reference,
                                                tile_feature_lists)

    zooms = [3, 7]
    nested = clip_points_relational(
        features.filter(F.col("kind") == "point"), zooms).unionByName(
        clip_shapes_reference(features.filter(F.col("kind") != "point"), zooms))
    ref = _canon_tiles(tile_feature_lists(nested, salt=0))
    new = _canon_tiles(build_tile_features(features, zooms))
    assert len(ref) > 50
    assert new == ref


def test_ann_recall_clustered_regime(spark):
    """VERDICT r3 #7: the driver's synthetic embeddings are near-uniform
    (IVF's worst case); this pins the OTHER regime — strongly clustered
    embeddings, where hyperplane LSH is the weaker method (intra-cluster
    neighbors subtend tiny angles, so few of the random hyperplanes split
    them informatively and buckets blow up/collapse). Both ANN paths must
    still clear the driver floors against exact cosine top-k."""
    import numpy as np
    import __spark_entry__ as E
    from tile_gen_spark.operators.knn import (knn_embeddings,
                                              knn_embeddings_ivf,
                                              knn_embeddings_lsh)

    rng = np.random.default_rng(11)
    n_clusters, per, dim = 12, 120, 64
    centers = rng.normal(size=(n_clusters, dim)) * 3.0
    rows = []
    vid = 0
    for c in range(n_clusters):
        pts = centers[c] + rng.normal(size=(per, dim)) * 0.15
        for p in pts:
            rows.append((vid, [float(v) for v in p]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>").cache()
    q = emb.filter(F.col("vec_id") % 48 == 0)

    exact = knn_embeddings(q, emb, k=5).select("query_id", "neighbor_id").cache()
    total = exact.count()
    assert total > 0

    def recall(approx):
        hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
        return 100.0 * hits / total

    lsh = knn_embeddings_lsh(q, emb, k=5, bits=32, bands=16, dim=dim).select(
        "query_id", "neighbor_id")
    ivf = knn_embeddings_ivf(q, emb, k=5, n_centroids=24, nprobe=8).select(
        "query_id", "neighbor_id")
    r_lsh, r_ivf = recall(lsh), recall(ivf)
    assert r_lsh >= E.ANN_LSH_RECALL_FLOOR, f"clustered LSH recall {r_lsh}"
    assert r_ivf >= E.ANN_IVF_RECALL_FLOOR, f"clustered IVF recall {r_ivf}"


def test_dim_agg_shuffle_join_fallback(spark, features):
    """tile_feature_lists_dim with the kind/props dim over
    BROADCAST_MAX_BYTES — no broadcast hint, a shuffle join on feature_id —
    must produce exactly the broadcast path's tiles."""
    from tile_gen_spark.operators.tiles import (clip_points_flat,
                                                clip_shapes_flat,
                                                tile_feature_lists_dim)

    zooms = [4]
    flat = clip_points_flat(features.filter("kind='point'"), zooms).unionByName(
        clip_shapes_flat(features.filter("kind!='point'"), zooms))
    dim = features.select("feature_id", "kind", "props")
    small = tile_feature_lists_dim(flat, dim)
    assert n_broadcast_hints(small) == 1
    a = _canon_tiles(small)
    with over_broadcast_cutoff(spark):
        large = tile_feature_lists_dim(flat, dim)
        assert n_broadcast_hints(large) == 0
        b = _canon_tiles(large)
    assert len(a) > 20
    assert a == b


def test_knn_embeddings_chunked_query_side(spark):
    """knn_embeddings with a query set larger than query_block must split
    the query side into hash blocks (bounded driver memory) and return
    EXACTLY the single-pass result (VERDICT r4 missing #2)."""
    from tile_gen_spark.functions import kernels as K
    from tile_gen_spark.operators.knn import knn_embeddings

    rng_ids = np.arange(240, dtype=np.uint64)
    rows = []
    for vid in rng_ids:
        vec = [(float(K.h64(np.array([vid]), 5, s)[0] % 1000) / 500.0 - 1.0)
               for s in range(16)]
        rows.append((int(vid), vec))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>").cache()
    q = emb.filter(F.col("vec_id") % 4 == 0)   # 60 queries

    one = knn_embeddings(q, emb, k=3, query_block=1000)
    chunked = knn_embeddings(q, emb, k=3, query_block=16)  # 4 blocks
    a = sorted(map(tuple, one.collect()))
    b = sorted(map(tuple, chunked.collect()))
    assert len(a) == 60 * 3
    # ids/ranks must match exactly; cos_sim only to float tolerance (BLAS
    # matmul reduction order varies with the block's matrix shape)
    assert [(q_, n, r) for q_, n, _, r in a] == [(q_, n, r) for q_, n, _, r in b]
    assert all(abs(x[2] - y[2]) < 1e-9 for x, y in zip(a, b))


def test_embedding_near_dup_pairs_exact_refine(spark):
    """embedding_near_dup_pairs == numpy reimplementation (quantize → ±1
    projections → band buckets → exact integer cosine refine) on clustered
    vectors, and the plan is zero-Python with no cartesian product."""
    from tile_gen_spark.operators.knn import (embedding_near_dup_pairs,
                                              pm1_hyperplanes)
    from tile_gen_spark.functions import kernels as K

    dim, planes, band_bits, quant = 16, 16, 4, 1_000_000
    tau_num, tau_den = 2, 5
    # clustered vectors: 12 centers × 20 members + per-member jitter, all
    # from the deterministic counter hash (near-dups exist by construction)
    n, ids = 240, np.arange(240, dtype=np.uint64)
    center = (ids % 12).astype(np.uint64)
    vec = np.empty((n, dim))
    for s in range(dim):
        c = K.h64(center, 11, s).astype(np.float64) / 2 ** 64 - 0.5
        j = (K.h64(ids, 13, s).astype(np.float64) / 2 ** 64 - 0.5) * 0.15
        vec[:, s] = c + j
    emb = spark.createDataFrame(
        [(int(i), [float(np.float32(v)) for v in vec[i]]) for i in range(n)],
        "vec_id bigint, embedding array<float>")
    got = sorted(map(tuple, embedding_near_dup_pairs(
        emb, tau_num, tau_den, planes, band_bits, quant, dim).collect()))

    # numpy oracle — same decisions in exact int64 arithmetic
    q = np.rint(vec.astype(np.float32).astype(np.float64) * quant).astype(np.int64)
    H = np.array(pm1_hyperplanes(dim, planes), dtype=np.int64)
    bits = (q @ H.T) > 0                                   # (n, planes)
    n_bands = planes // band_bits
    bucket = np.zeros((n, n_bands), dtype=np.int64)
    for p in range(planes):
        b = p // band_bits
        bucket[:, b] = bucket[:, b] * 2 + bits[:, p]
    want = []
    nrm = np.einsum("ij,ij->i", q, q)
    for a in range(n):
        for b in range(a + 1, n):
            if not (bucket[a] == bucket[b]).any():
                continue
            dot = int(q[a] @ q[b])
            if dot > 0 and (tau_den * dot) ** 2 >= tau_num ** 2 * int(nrm[a]) * int(nrm[b]):
                want.append((a, b))
    assert got == want
    assert len(want) > 50          # the clustered regime actually fires

    plan = embedding_near_dup_pairs(emb, tau_num, tau_den, planes,
                                    band_bits, quant, dim)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Python" not in plan            # no BatchEval/ArrowEval anywhere
    assert "CartesianProduct" not in plan  # LSH bucket join, never all-pairs


def test_connected_components_min_label(spark):
    """connected_components == union-find ground truth on mixed topologies
    (chain, triangle+tail, pairs, singletons); keeper = min id per group."""
    from tile_gen_spark.operators.graph import connected_components, near_dup_groups

    #  chain 0-1-2-3-4 | triangle 10-11-12 with tail 12-13 | pair 20-21
    #  cross-edge dup (2,3) again | singletons 30, 31
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12),
             (12, 13), (20, 21), (2, 3)]
    ids = sorted({i for e in edges for i in e} | {30, 31})
    v = spark.createDataFrame([(i,) for i in ids], "id bigint")
    e = spark.createDataFrame(edges, "id_a bigint, id_b bigint")

    parent = {i: i for i in ids}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        parent[find(a)] = find(b)
    want = sorted((i, min(j for j in ids if find(j) == find(i))) for i in ids)

    got = sorted(map(tuple, connected_components(v, e).collect()))
    assert got == want

    grp = {tuple(r) for r in near_dup_groups(v, e).collect()}
    assert (0, 0, True) in grp and (4, 0, False) in grp
    assert (13, 10, False) in grp and (30, 30, True) in grp

    # a 5-chain needs ~3 propagation rounds; max_iter=1 must raise, proving
    # the convergence probe is real (not a fixed-iteration guess)
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(v, e, max_iter=1)

    # r6 (VERDICT r5 #4): reliable-checkpoint mode (storage-backed lineage
    # cuts that survive executor loss) must produce identical components
    # through a multi-round (≥3) run
    import tempfile
    with tempfile.TemporaryDirectory(prefix="cc_ckpt_") as d:
        got_rel = sorted(map(tuple,
                             connected_components(v, e, checkpoint_dir=d).collect()))
    assert got_rel == want
