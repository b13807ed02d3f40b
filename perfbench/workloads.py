"""The benchmark's workloads: inputs, one timed pass, one layered (traced)
pass and an independent reference for the output.

Each workload calls only the engine's public entry points. A timed pass is
the production call sequence; a layered pass runs the same layers one at a
time, each inside its own Spark job group (its span), with the layer's input
materialized before the span and every output column forced inside it.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from tile_gen_spark.functions import kernels as K
from tile_gen_spark.operators.checkpoint import run_tile_job
from tile_gen_spark.operators.extract import (extract_and_parse,
                                              latest_per_url, validity_filter)
from tile_gen_spark.operators.skew import suggest_salt
from tile_gen_spark.operators.spatial_join import (pip_join,
                                                   points_with_bucket,
                                                   zones_covering_quadkeys)
from tile_gen_spark.operators.tiles import (assign_features,
                                            clip_points_relational,
                                            clip_shapes_direct,
                                            tile_feature_lists)
from tile_gen_spark.sources.catalog import read_pages, read_tiles

from . import gen
from .measure import digest, jvm_gc_s, tree_cpu_s


def force(df: DataFrame) -> int:
    """Compute every column of ``df`` (noop sink) and return its row count."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop") \
        .mode("overwrite").save()
    return int(obs.get["n"])


def cached_count(df: DataFrame) -> tuple[DataFrame, int]:
    """Persist ``df`` and build its whole cache (all columns)."""
    df = df.persist()
    return df, df.count()


class Spans:
    """Driver-side span records: wall, /proc CPU and JVM GC per span; the
    span name is the Spark job group of every job started inside it."""

    OUTSIDE = "outside-spans"

    def __init__(self, spark, jvm_pid: int):
        self.spark, self.pid = spark, jvm_pid
        self.records: list[dict] = []

    @contextmanager
    def span(self, name: str, rows_in: int):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        rec = {"span": name, "rows_in": rows_in, "rows_out": 0,
               "cpu0": tree_cpu_s(self.pid), "gc0": jvm_gc_s(self.spark),
               "start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["cpu_s"] = tree_cpu_s(self.pid) - rec.pop("cpu0")
            rec["gc_s"] = jvm_gc_s(self.spark) - rec.pop("gc0")
            rec["wall_s"] = rec["end"] - rec["start"]
            sc.setJobGroup(self.OUTSIDE, self.OUTSIDE)
            self.records.append(rec)


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024.0 * 1024.0)


class TilesJobUniform:
    """The CLI's production path (jobs.generate_tiles.main): cached features,
    suggest_salt, then run_tile_job writing clustered parquet plus the
    manifest into a fresh directory each pass. Uniform lon/lat, no cities."""

    name = "tiles_job_uniform"
    spans = ("latest_per_url", "extract_parse", "validity", "salt_stats", "tile_job")
    n_pages = 4000
    hot_share = 0.0
    #: one zoom: a pass costs ~7 s here, almost all of it per-job fixed cost
    zooms = [12]
    warm_passes = 2

    def __init__(self, work: str):
        self.work, self.n_out = work, 0

    def generate(self, cache: str, seed: int) -> None:
        self.path = gen.cached(cache, "pages", self.n_pages, seed,
                               hot_share=self.hot_share)

    def load(self, spark) -> None:
        self.spark = spark
        # a pages table is many files; spread the one generated file over
        # one partition per shuffle partition so extract runs in parallel
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.pages, self.n_in = cached_count(
            read_pages(spark, self.path).repartition(parts))

    def _out(self) -> tuple[str, str]:
        """Fresh sink and manifest directories; every pass keeps its own so
        the outputs can be checked after the timed loop."""
        self.n_out += 1
        out = os.path.join(self.work, "sink", str(self.n_out))
        shutil.rmtree(out, ignore_errors=True)
        return os.path.join(out, "tiles"), os.path.join(out, "manifest")

    def run_pass(self) -> dict:
        feats = validity_filter(extract_and_parse(latest_per_url(self.pages))).cache()
        salt = suggest_salt(assign_features(feats, [max(self.zooms)]))
        tiles, manifest = self._out()
        stats = run_tile_job(self.spark, feats, tiles, manifest, self.zooms, salt=salt)
        feats.unpersist()
        return {"rows": stats["tiles"], "tiles": tiles, "manifest": manifest}

    def layered_pass(self, spans: Spans) -> dict:
        with spans.span("latest_per_url", self.n_in) as s:
            s["rows_out"] = force(latest_per_url(self.pages))
        latest, n = cached_count(latest_per_url(self.pages))
        with spans.span("extract_parse", n) as s:
            s["rows_out"] = force(extract_and_parse(latest))
        parsed, n = cached_count(extract_and_parse(latest))
        with spans.span("validity", n) as s:
            s["rows_out"] = force(validity_filter(parsed))
        feats, n = cached_count(validity_filter(parsed))
        with spans.span("salt_stats", n) as s:
            salt = suggest_salt(assign_features(feats, [max(self.zooms)]))
            s["rows_out"] = 1
        tiles, manifest = self._out()
        with spans.span("tile_job", n) as s:
            stats = run_tile_job(self.spark, feats, tiles, manifest, self.zooms, salt=salt)
            s["rows_out"] = stats["tiles"]
            s["out_mb"] = dir_mb(tiles)
        for df in (latest, parsed, feats):
            df.unpersist()
        return {"rows": stats["tiles"], "tiles": tiles, "manifest": manifest}

    def check(self, result: dict) -> tuple[dict, list[str]]:
        """Digest of what the sink wrote, plus manifest consistency."""
        tiles = read_tiles(self.spark, os.path.join(result["tiles"], f"z={self.zooms[0]}"))
        d = digest(tiles)
        problems = []
        summary = F.col("partition_id") == -1
        m = self.spark.read.parquet(result["manifest"]).agg(
            F.count(F.when(summary, 1)).alias("zooms"),
            F.sum(F.when(summary, F.col("output_rows"))).alias("zoom_rows"),
            F.sum(F.when(~summary, F.col("output_rows"))).alias("part_rows")).first()
        if m["zooms"] != len(self.zooms):
            problems.append(f"manifest has {m['zooms']} zoom rows")
        if not (m["zoom_rows"] == m["part_rows"] == d["rows"] == result["rows"]):
            problems.append(f"tile counts disagree: manifest {m['zoom_rows']}/"
                            f"{m['part_rows']}, sink {d['rows']}, job {result['rows']}")
        return d, problems

    def reference(self) -> dict:
        """Nested reference pipeline: relational point clip + per-row shape
        clip + tile_feature_lists, on the same features and salt."""
        feats = validity_filter(extract_and_parse(latest_per_url(self.pages))).cache()
        salt = suggest_salt(assign_features(feats, [max(self.zooms)]))
        pts = clip_points_relational(feats.filter(F.col("kind") == "point"), self.zooms)
        shp = clip_shapes_direct(feats.filter(F.col("kind") != "point"), self.zooms)
        ref = tile_feature_lists(pts.unionByName(shp), salt=salt)
        d = digest(ref.select("z", "x", "y", "features", "n_features"))
        feats.unpersist()
        return d


class PipJoin:
    """Relational points joined with many small high-vertex zones (exact
    join rows). Zone covering runs in Python on the dim side every pass."""

    name = "pip_join"
    spans = ("zone_cover", "point_bucket", "pip_join")
    n_points = 2_000_000
    n_zones = 4000
    zone_seed = 1
    res = 10
    warm_passes = 5

    def __init__(self, work: str):
        self.work = work

    def generate(self, cache: str, seed: int) -> None:
        self.pts_path = gen.cached(cache, "points", self.n_points, seed)
        # the zones are a fixed dim table; the seed draws the points
        self.zones_path = gen.cached(cache, "zones", self.n_zones, self.zone_seed)

    def load(self, spark) -> None:
        self.spark = spark
        self.points, self.n_pts = cached_count(spark.read.parquet(self.pts_path))
        # one partition per 500 zones, the layout sources.synth.gen_zones gives
        zones = spark.read.parquet(self.zones_path)
        self.zones, self.n_zones_in = cached_count(
            zones.repartition(max(2, self.n_zones // 500)))

    def run_pass(self) -> dict:
        d = digest(pip_join(self.points, self.zones, res=self.res))
        return {"rows": d["rows"], "digest": d}

    def layered_pass(self, spans: Spans) -> dict:
        with spans.span("zone_cover", self.n_zones_in) as s:
            s["rows_out"] = force(zones_covering_quadkeys(self.zones, self.res))
        with spans.span("point_bucket", self.n_pts) as s:
            s["rows_out"] = force(points_with_bucket(
                self.points.select("point_id", "lon", "lat"), self.res))
        with spans.span("pip_join", self.n_pts) as s:
            d = digest(pip_join(self.points, self.zones, res=self.res))
            s["rows_out"] = d["rows"]
        return {"rows": d["rows"], "digest": d}

    def check(self, result: dict) -> tuple[dict, list[str]]:
        return result["digest"], []

    def reference(self) -> dict:
        """Exact pairs from the numpy even-odd kernel (points_in_polygon),
        each zone tested against the points inside its bounding box."""
        pts = pd.read_parquet(self.pts_path)
        zones = pd.read_parquet(self.zones_path)
        order = np.argsort(pts["lon"].to_numpy(), kind="stable")
        lon = pts["lon"].to_numpy()[order]
        lat = pts["lat"].to_numpy()[order]
        pid = pts["point_id"].to_numpy()[order]
        eps = 1e-9  # wider than the kernel's on-edge tolerance
        out = []
        for zid, ring in zip(zones["zone_id"], zones["ring"]):
            r = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
            lo_i = np.searchsorted(lon, r[:, 0].min() - eps, side="left")
            hi_i = np.searchsorted(lon, r[:, 0].max() + eps, side="right")
            sel = np.arange(lo_i, hi_i)
            sel = sel[(lat[sel] >= r[:, 1].min() - eps) & (lat[sel] <= r[:, 1].max() + eps)]
            if sel.size == 0:
                continue
            hit = sel[K.points_in_polygon(lon[sel], lat[sel], [r.ravel()])]
            out.append(pd.DataFrame({"point_id": pid[hit], "zone_id": np.int64(zid),
                                     "lon": lon[hit], "lat": lat[hit]}))
        ref = pd.concat(out, ignore_index=True) if out else pd.DataFrame(
            {"point_id": [], "zone_id": [], "lon": [], "lat": []})
        df = self.spark.createDataFrame(
            ref, "point_id bigint, zone_id bigint, lon double, lat double")
        return digest(df)


WORKLOADS = {w.name: w for w in (TilesJobUniform, PipJoin)}
