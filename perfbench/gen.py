"""Seeded input generators for the benchmark, cached on disk.

Every value is a pure function of (seed, row index) through the engine's
counter-based splitmix64 hashes, so a table is identical however its rows
are split into chunks (or Spark partitions). Tables are generated with numpy
in the benchmark process — never inside a timed region — and written once per
(generator, seed, size) as parquet under the cache directory.

- ``page_batch``: the pages corpus of ``sources.synth`` with the hot-city
  share as a parameter. At ``hot_share=0.7`` it is byte-identical to
  ``synth._page_batch``, so the pinned 400k-page outputs anchor it.
- ``zone_batch``: ``synth._zone_batch`` (the PIP polygon side), unchanged.
- ``point_batch``: PIP points, uniform like the relational points of
  ``bench.py``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from tile_gen_spark.functions.kernels import MAX_LAT, h64, hu
from tile_gen_spark.sources.synth import (_LANGS, _WORDS, N_CITIES,
                                          _city_centers, _zone_batch)

#: rows generated per pandas frame (the chunk size never changes a value)
CHUNK = 4096


def coord_pair(i: np.ndarray, seed: int, stream: int,
               hot_share: float) -> tuple[np.ndarray, np.ndarray]:
    """synth._coord_pair with the hot-city share as a parameter."""
    clon, clat = _city_centers(seed)
    hot = hu(i, seed, stream) < hot_share
    city = (h64(i, seed, stream + 1) % np.uint64(N_CITIES)).astype(np.int64)
    jit_lon = (hu(i, seed, stream + 2) - 0.5) * 0.8
    jit_lat = (hu(i, seed, stream + 3) - 0.5) * 0.8
    ulon = hu(i, seed, stream + 4) * 360.0 - 180.0
    ulat = hu(i, seed, stream + 5) * 2 * MAX_LAT - MAX_LAT
    lon = np.where(hot, clon[city] + jit_lon, ulon)
    lat = np.where(hot, np.clip(clat[city] + jit_lat, -MAX_LAT, MAX_LAT), ulat)
    return np.round(lon, 6), np.round(lat, 6)


def _geo_span(gi: np.ndarray, seed: int, hot_share: float) -> str:
    kind = int(h64(gi, seed, 12)[0] % np.uint64(3))
    if kind == 0:
        lon, lat = coord_pair(gi, seed, 20, hot_share)
        return "@@geo point %.6f %.6f@@" % (lon[0], lat[0])
    if kind == 2 and int(h64(gi, seed, 60)[0] % np.uint64(4)) == 0:
        # donut: octagon exterior + concentric 0.35x hole
        clon, clat = coord_pair(gi, seed, 30, hot_share)
        r0 = 0.002 + float(hu(gi, seed, 61)[0]) * 0.01
        clat0 = float(np.clip(clat[0], -MAX_LAT + 0.013, MAX_LAT - 0.013))
        ang = 2 * np.pi * np.arange(8) / 8.0 + float(hu(gi, seed, 62)[0]) * np.pi
        rings = []
        for scale in (1.0, 0.35):
            xs = np.round(clon[0] + scale * r0 * np.cos(ang), 6)
            ys = np.round(clat0 + scale * r0 * np.sin(ang), 6)
            rings.append("; ".join("%.6f %.6f" % p for p in zip(xs, ys)))
        return "@@geo poly %s | %s@@" % tuple(rings)
    nv = 3 + int(h64(gi, seed, 13)[0] % np.uint64(4))
    vi = np.arange(nv, dtype=np.uint64) + gi[0] * np.uint64(977)
    lons, lats = coord_pair(vi, seed, 30, hot_share)
    lons = np.round(lons[0] + (lons - lons[0]) * 0.002, 6)
    lats = np.round(np.clip(lats[0] + (lats - lats[0]) * 0.002, -MAX_LAT, MAX_LAT), 6)
    coords = "; ".join("%.6f %.6f" % p for p in zip(lons, lats))
    return "@@geo %s %s@@" % ("line" if kind == 1 else "poly", coords)


def page_batch(ids: np.ndarray, seed: int, hot_share: float = 0.7) -> pd.DataFrame:
    """Pages rows for ``ids`` (same schema and hashing as synth.PAGES_SCHEMA)."""
    i = ids.astype(np.uint64)
    is_dup = (hu(i, seed, 1) < 0.05) & (ids >= 1000)
    url_key = np.where(is_dup, ids - 1000, ids)
    host = (h64(url_key.astype(np.uint64), seed, 2) % np.uint64(1000)).astype(np.int64)
    urls = ["https://host%d.example/p%d" % (h, k) for h, k in zip(host, url_key)]
    day = (h64(i, seed, 3) % np.uint64(180)).astype("timedelta64[D]")
    sec = (h64(i, seed, 4) % np.uint64(86400)).astype("timedelta64[s]")
    bump = np.where(is_dup, np.timedelta64(200, "D"), np.timedelta64(0, "D"))
    ts = np.datetime64("2026-01-01T00:00:00") + day + sec + bump
    lang = _LANGS[(h64(i, seed, 5) % np.uint64(len(_LANGS))).astype(np.int64)]
    n_para = 2 + (h64(i, seed, 6) % np.uint64(4)).astype(np.int64)
    has_geo = hu(i, seed, 7) < 0.6
    n_geo = np.where(has_geo, 1 + (h64(i, seed, 8) % np.uint64(3)).astype(np.int64), 0)
    nw = np.uint64(len(_WORDS))

    texts, htmls = [], []
    for j, rid in enumerate(int(x) for x in ids):
        title_w = _WORDS[h64(np.arange(3, dtype=np.uint64) + np.uint64(rid * 31), seed, 9) % nw]
        title = " ".join(title_w) + " #%d" % rid
        body = []
        for p in range(int(n_para[j])):
            n_w = 6 + int(h64(np.array([rid * 7 + p], dtype=np.uint64), seed, 10)[0] % np.uint64(9))
            wi = h64(np.arange(n_w, dtype=np.uint64) + np.uint64(rid * 131 + p * 17), seed, 11)
            body.append(" ".join(_WORDS[wi % nw]))
        for g in range(int(n_geo[j])):
            body.append(_geo_span(np.array([rid * 13 + g * 5], dtype=np.uint64),
                                  seed, hot_share))
        texts.append("\n".join([title] + body))
        htmls.append(("<html><head><title>%s</title></head><body>%s</body></html>"
                      % (title, "".join("<p>%s</p>" % l for l in body))).encode("utf-8"))
    return pd.DataFrame({
        "url": pd.Series(urls, dtype="string"),
        "warc_ts": pd.Series(ts),
        "html": pd.Series(htmls, dtype=object),
        "text": pd.Series(texts, dtype="string"),
        "lang": pd.Series(lang, dtype="string"),
    })


def zone_batch(ids: np.ndarray, seed: int, radius_scale: float = 0.1,
               nv_extra: int = 40) -> pd.DataFrame:
    """PIP zones: many small high-vertex polygons (synth._zone_batch)."""
    return _zone_batch(ids, seed, radius_scale, nv_extra)


def point_batch(ids: np.ndarray, seed: int) -> pd.DataFrame:
    """PIP points(point_id, lon, lat), uniform over the mercator square;
    streams 200+ keep them independent of the page and zone streams."""
    i = ids.astype(np.uint64)
    lon = hu(i, seed, 200) * 360.0 - 180.0
    lat = hu(i, seed, 201) * 2 * MAX_LAT - MAX_LAT
    return pd.DataFrame({"point_id": ids.astype(np.int64), "lon": lon, "lat": lat})


GENERATORS = {"pages": page_batch, "zones": zone_batch, "points": point_batch}


def generate(kind: str, n: int, seed: int, chunk: int = CHUNK, **params) -> pd.DataFrame:
    """Rows 0..n-1 of one generator, built ``chunk`` rows at a time."""
    fn = GENERATORS[kind]
    parts = [fn(np.arange(a, min(a + chunk, n), dtype=np.int64), seed, **params)
             for a in range(0, n, chunk)]
    return pd.concat(parts, ignore_index=True)


def cached(cache_dir: str, kind: str, n: int, seed: int, **params) -> str:
    """Parquet path of the table; generated on the first request only.

    Keyed by (generator, seed, size, params). The file is written under a
    temporary name and renamed, so an interrupted run never leaves a partial
    table behind."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    path = os.path.join(cache_dir, f"{kind}-s{seed}-n{n}{'-' + tag if tag else ''}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        df = generate(kind, n, seed, **params)
        for c in df.columns:  # naive datetimes are UTC (the session time zone)
            if pd.api.types.is_datetime64_dtype(df[c]):
                df[c] = df[c].dt.tz_localize("UTC")
        df.to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return path

